package graft.bdb

import graft.ops.{Exact, Sessionize, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPCx-BB queries 16–30 (see [[BdbQueries1]] for conventions). */
object BdbQueries2 {

  /** Fit k-means with k clamped to the number of distinct feature
    * points (Spark's block-mode KMeans fails when distinct points < k;
    * the reference's k=8 assumes SF-scale cardinality).
    */
  private def kmeansSummary(data: org.apache.spark.sql.DataFrame,
      k: Int) = {
    import org.apache.spark.ml.clustering.KMeans
    // held once for the distinct count, the fit and its summary's
    // predictions, so the feature plan runs once
    val held = graft.ops.Materialize(data)
    // distinct over the assembled vector column — the same points the
    // fit sees, so the call sites don't repeat their column lists
    val nDistinct = held.select("features").distinct().count()
    val kk = math.max(1, math.min(k, nDistinct.toInt))
    new KMeans().setK(kk).setMaxIter(20).setSeed(42L).fit(held)
  }

  /** q16: web sales +/- returns in the week before/after a pivot date,
    * by (warehouse state, item), top-100. Ref: q16_dask_sql.py:36-100.
    */
  def q16(s: SparkSession, pivotDate: String = "2001-03-16",
      limit: Int = 100): DataFrame = {
    val dd = s.table("date_dim")
      .withColumn("dd", to_date(col("d_date")))
      .filter(abs(datediff(col("dd"), lit(pivotDate))) <= 30)
      .select("d_date_sk", "dd")
    val j = s.table("web_sales")
      .join(broadcast(dd), col("ws_sold_date_sk") === col("d_date_sk"))
      .join(s.table("web_returns")
          .select("wr_order_number", "wr_item_sk", "wr_refunded_cash"),
        col("ws_order_number") === col("wr_order_number") &&
          col("ws_item_sk") === col("wr_item_sk"), "left_outer")
      .join(broadcast(s.table("warehouse").select("w_warehouse_sk", "w_state")),
        col("ws_warehouse_sk") === col("w_warehouse_sk"))
      .join(broadcast(s.table("item").select("i_item_sk", "i_item_id")),
        col("ws_item_sk") === col("i_item_sk"))
      .withColumn("net",
        col("ws_sales_price") - coalesce(col("wr_refunded_cash"),
          lit(0).cast("decimal(7,2)")))
    // .otherwise(0): the reference's CASE ... ELSE 0.0 END
    // (q16_dask_sql.py:59-67) — a group whose sales fall entirely on
    // one side of the pivot reports 0 on the other side, not NULL
    // the zero is cast to net's own decimal(8,2) so the when/otherwise
    // doesn't widen through the int literal (schema-pinned by the
    // golden spec: sum stays decimal(18,2))
    val zero = lit(0).cast("decimal(8,2)")
    j.groupBy("w_state", "i_item_id")
      .agg(
        sum(when(col("dd") < lit(pivotDate), col("net"))
          .otherwise(zero)).as("sales_before"),
        sum(when(col("dd") >= lit(pivotDate), col("net"))
          .otherwise(zero)).as("sales_after"))
      .orderBy("w_state", "i_item_id")
      .limit(limit)
  }

  /** q17: ratio of promoted (dmail/email/tv) store sales to total in
    * one month/timezone band/category set. Ref: q17_dask_sql.py:39-82.
    */
  def q17(s: SparkSession, year: Int = 2001, moy: Int = 12,
      gmtOffset: Double = -5.0): DataFrame = {
    val dd = s.table("date_dim")
      .filter(col("d_year") === year && col("d_moy") === moy)
      .select("d_date_sk")
    val promo = s.table("promotion")
      .select(col("p_promo_sk"),
        (col("p_channel_dmail") === "Y" || col("p_channel_email") === "Y" ||
          col("p_channel_tv") === "Y").as("promoted"))
    val stores = s.table("store")
      .filter(col("s_gmt_offset") === gmtOffset).select("s_store_sk")
    val j = s.table("store_sales")
      .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(stores), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(promo), col("ss_promo_sk") === col("p_promo_sk"))
    j.agg(
      sum(when(col("promoted"), col("ss_ext_sales_price"))).as("promotional"),
      sum(col("ss_ext_sales_price")).as("total"))
      .select(col("promotional"), col("total"),
        when(col("total").isNotNull && col("total") =!= 0,
          coalesce(col("promotional"), lit(0).cast("decimal(7,2)"))
            .cast("double") * 100.0 / col("total").cast("double"))
          .as("promo_pct"))
  }

  /** q18: stores with declining monthly sales (slope <= 0) whose names
    * appear in review text, with the sentence sentiment.
    * Ref: q18_dask_sql.py:47-246.
    */
  def q18(s: SparkSession, startDate: String = "2001-05-02",
      endDate: String = "2001-09-02",
      negWords: Seq[String] = BdbQueries1.defaultNegative): DataFrame = {
    val dd = s.table("date_dim")
      .withColumn("dd", to_date(col("d_date")))
      .filter(col("dd") >= lit(startDate) && col("dd") < lit(endDate))
      .select("d_date_sk")
    val declining = s.table("store_sales")
      .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_store_sk"), col("ss_sold_date_sk"))
      .agg(sum("ss_net_paid").as("daily"))
      .groupBy("ss_store_sk")
      .agg(Exact.dslope(col("ss_sold_date_sk"),
        col("daily").cast("double")).as("slope"))
      .filter(col("slope") <= 0)
    val stores = declining
      .join(s.table("store").select("s_store_sk", "s_store_name"),
        col("ss_store_sk") === col("s_store_sk"))
      .select(col("s_store_sk"), lower(col("s_store_name")).as("store_name"))
    // The declining-store name list is an O(#stores) aggregate —
    // collect it once and compile the names into one Aho-Corasick
    // automaton (graft.expressions.MultiNeedleMatches): a single
    // O(sentence-length) pass replaces the needles × sentences
    // crossJoin of instr probes (the reference builds its per-name
    // search list driver-side the same way). The collected rows also
    // seed the name→store_sk dim locally, so the slope subquery runs
    // exactly once.
    // NULL/empty names can't feed the automaton (a null NPEs the
    // driver-side sort; an empty needle is rejected at plan time) —
    // and a store with no name can't be mentioned in a review anyway
    val storeRows = stores
      .filter(col("store_name").isNotNull && length(col("store_name")) > 0)
      .collect()
    val names = storeRows.map(_.getString(1)).distinct.sorted
    val storeDim = {
      import s.implicits._
      storeRows.toSeq.map(r => (r.getLong(0), r.getString(1)))
        .toDF("s_store_sk", "store_name")
    }
    // reviews mentioning a declining store's name (multi-needle T7)
    val reviews = s.table("product_reviews")
      .filter(col("pr_review_content").isNotNull)
      .select(col("pr_review_sk"), col("pr_review_date"),
        lower(col("pr_review_content")).as("content"))
    val sentences = BdbQueries1.sentencesOf(reviews, "content")
    val hits = sentences
      .withColumn("store_name", explode(
        graft.expressions.GraftFunctions.multi_needle_matches(
          col("sentence"), lit(names))))
      .join(broadcast(storeDim), "store_name")
    // word lists are tiny: compile into a codegen'd OR-of-instr scan
    // (load from the kit files via Text.wordList(s, path) for parity).
    // lit(wd), not SQL-text interpolation: a word containing a quote
    // ("can't") must stay a literal, never parsed SQL
    val negHit = negWords
      .map(wd => instr(col("sentence"), wd) > 0).reduce(_ || _)
    // ETL-sized output: written unsorted (reference verifies
    // order-insensitively, utils.py:449-477) — no global range sort.
    hits.withColumn("sentiment", when(negHit, "NEG").otherwise("POS"))
      .select(col("s_store_sk").as("store_sk"), col("store_name"),
        col("pr_review_date").as("review_date"), col("sentence"),
        col("sentiment"))
  }

  /** q19: items with balanced store/web returns around given dates,
    * then negative review sentences for them. Ref: q19_dask_sql.py:47-175.
    */
  def q19(s: SparkSession,
      returnDates: Seq[String] =
        Seq("2004-03-08", "2004-08-02", "2004-11-15", "2004-12-20"),
      negWords: Seq[String] = BdbQueries1.defaultNegative): DataFrame = {
    val weeks = s.table("date_dim")
      .filter(to_date(col("d_date")).isin(returnDates.map(java.sql.Date.valueOf): _*))
      .select(col("d_week_seq")).distinct()
    val dd = s.table("date_dim")
      .join(broadcast(weeks), Seq("d_week_seq"))
      .select("d_date_sk")
    val sr = s.table("store_returns")
      .join(broadcast(dd), col("sr_returned_date_sk") === col("d_date_sk"))
      .groupBy(col("sr_item_sk").as("item_sk"))
      .agg(sum("sr_return_quantity").as("sr_qty"))
    val wr = s.table("web_returns")
      .join(broadcast(dd), col("wr_returned_date_sk") === col("d_date_sk"))
      .groupBy(col("wr_item_sk").as("item_sk"))
      .agg(sum("wr_return_quantity").as("wr_qty"))
    val balanced = sr.join(wr, "item_sk")
      .filter(col("wr_qty") > 0 &&
        col("sr_qty").cast("double") >= col("wr_qty") * 0.9 &&
        col("sr_qty").cast("double") <= col("wr_qty") * 1.1)
      .select("item_sk")
    val reviews = s.table("product_reviews")
      .filter(col("pr_review_content").isNotNull)
      .join(balanced, col("pr_item_sk") === col("item_sk"), "left_semi")
      .select(col("pr_item_sk"), col("pr_review_sk"),
        lower(col("pr_review_content")).as("content"))
    val sentences = BdbQueries1.sentencesOf(reviews, "content")
    // same literal-not-SQL-text discipline as q18
    val negHit = negWords
      .map(wd => instr(col("sentence"), wd) > 0).reduce(_ || _)
    sentences.filter(negHit)
      .select(col("pr_item_sk").as("item_sk"), col("pr_review_sk"),
        col("sentence"))
      .orderBy("item_sk", "pr_review_sk", "sentence")
  }

  /** q20: customer segmentation on return ratios -> k-means(8,20).
    * Returns cluster sizes + WSSSE. Ref: q20_dask_sql.py:36-96.
    */
  /** q20's deterministic feature frame (upstream of the k-means fit)
    * — exposed for the direct DuckDB gate (b55); see q05Features. */
  def q20Features(s: SparkSession): DataFrame = {
    val sales = s.table("store_sales")
      .filter(col("ss_customer_sk").isNotNull)
      .groupBy(col("ss_customer_sk").as("cust"))
      .agg(countDistinct("ss_ticket_number").as("orders"),
        sum("ss_quantity").as("items"),
        sum("ss_net_paid").as("amount"))
    val returns = s.table("store_returns")
      .filter(col("sr_customer_sk").isNotNull)
      .groupBy(col("sr_customer_sk").as("cust2"))
      .agg(countDistinct("sr_ticket_number").as("r_orders"),
        sum("sr_return_quantity").as("r_items"),
        sum("sr_return_amt").as("r_amount"))
    sales.join(returns, col("cust") === col("cust2"), "left_outer")
      .select(col("cust"),
        (coalesce(col("r_orders"), lit(0L)).cast("double") / col("orders"))
          .as("order_ratio"),
        (coalesce(col("r_items"), lit(0L)).cast("double") / col("items"))
          .as("item_ratio"),
        (coalesce(col("r_amount").cast("double"), lit(0.0)) /
          col("amount").cast("double")).as("amount_ratio"))
      .na.fill(0.0)
  }

  def q20(s: SparkSession): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    val feats = q20Features(s)
    val data = new VectorAssembler()
      .setInputCols(Array("order_ratio", "item_ratio", "amount_ratio"))
      .setOutputCol("features").transform(feats)
    val model = kmeansSummary(data, 8)
    model.summary.predictions
      .groupBy(col("prediction").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .withColumn("wssse", round(lit(model.summary.trainingCost), 3))
      .orderBy(desc("n"), col("cluster"))
  }

  /** q21: items returned within 6 months then re-bought on the web
    * within 3 years, by item/store, top-100. Ref: q21_dask_sql.py:33-109.
    */
  def q21(s: SparkSession, year: Int = 2003, moy: Int = 1,
      limit: Int = 100): DataFrame = {
    val dd = s.table("date_dim").select("d_date_sk", "d_year", "d_moy")
    val d1 = dd.filter(col("d_year") === year && col("d_moy") === moy)
      .select(col("d_date_sk").as("d1_sk"))
    val d2 = dd.filter(col("d_year") === year &&
        col("d_moy").between(moy, moy + 6))
      .select(col("d_date_sk").as("d2_sk"))
    val d3 = dd.filter(col("d_year").between(year, year + 2))
      .select(col("d_date_sk").as("d3_sk"))
    val ss = s.table("store_sales")
      .join(broadcast(d1), col("ss_sold_date_sk") === col("d1_sk"))
      .select("ss_item_sk", "ss_customer_sk", "ss_ticket_number",
        "ss_quantity", "ss_store_sk")
    val sr = s.table("store_returns")
      .join(broadcast(d2), col("sr_returned_date_sk") === col("d2_sk"))
      .select("sr_item_sk", "sr_customer_sk", "sr_ticket_number",
        "sr_return_quantity")
    val ws = s.table("web_sales")
      .join(broadcast(d3), col("ws_sold_date_sk") === col("d3_sk"))
      .select("ws_item_sk", "ws_bill_customer_sk", "ws_quantity")
    val j = ss
      .join(sr,
        col("ss_item_sk") === col("sr_item_sk") &&
          col("ss_customer_sk") === col("sr_customer_sk") &&
          col("ss_ticket_number") === col("sr_ticket_number"))
      .join(ws,
        col("sr_item_sk") === col("ws_item_sk") &&
          col("sr_customer_sk") === col("ws_bill_customer_sk"))
      .join(broadcast(s.table("item").select("i_item_sk", "i_item_id", "i_item_desc")),
        col("ss_item_sk") === col("i_item_sk"))
      .join(broadcast(s.table("store").select("s_store_sk", "s_store_id", "s_store_name")),
        col("ss_store_sk") === col("s_store_sk"))
    j.groupBy("i_item_id", "i_item_desc", "s_store_id", "s_store_name")
      .agg(sum("ss_quantity").cast("bigint").as("store_sales_quantity"),
        sum("sr_return_quantity").cast("bigint").as("store_returns_quantity"),
        sum("ws_quantity").cast("bigint").as("web_sales_quantity"))
      .orderBy(desc("store_sales_quantity"), col("i_item_id"), col("s_store_id"))
      .limit(limit)
  }

  /** q22: inventory before/after a price-change date per warehouse /
    * item (price band 0.98–1.5), ratio in [2/3, 3/2].
    * Ref: q22_dask_sql.py:38-78.
    */
  def q22(s: SparkSession, date: String = "2001-05-08",
      priceMin: Double = 0.98, priceMax: Double = 1.5): DataFrame = {
    val dd = s.table("date_dim")
      .withColumn("dd", to_date(col("d_date")))
      .filter(abs(datediff(col("dd"), lit(date))) <= 30)
      .select("d_date_sk", "dd")
    val items = s.table("item")
      .filter(col("i_current_price").between(priceMin, priceMax))
      .select("i_item_sk", "i_item_id")
    val j = s.table("inventory")
      .join(broadcast(dd), col("inv_date_sk") === col("d_date_sk"))
      .join(broadcast(items), col("inv_item_sk") === col("i_item_sk"))
      .join(broadcast(s.table("warehouse")
          .select("w_warehouse_sk", "w_warehouse_name")),
        col("inv_warehouse_sk") === col("w_warehouse_sk"))
    j.groupBy("w_warehouse_name", "i_item_id")
      .agg(
        sum(when(col("dd") < lit(date), col("inv_quantity_on_hand"))
          .otherwise(0)).as("inv_before"),
        sum(when(col("dd") >= lit(date), col("inv_quantity_on_hand"))
          .otherwise(0)).as("inv_after"))
      .filter(col("inv_before") > 0 &&
        col("inv_after").cast("double") / col("inv_before") >= 2.0 / 3.0 &&
        col("inv_after").cast("double") / col("inv_before") <= 3.0 / 2.0)
      .orderBy("w_warehouse_name", "i_item_id")
      .limit(100)
  }

  /** q23: inventory coefficient-of-variation (stddev/mean) >= 1.3 in
    * two consecutive months. Ref: q23_dask_sql.py:38-92.
    */
  def q23(s: SparkSession, year: Int = 2001, moy: Int = 1,
      coefficient: Double = 1.3): DataFrame = {
    val dd = s.table("date_dim")
      .filter(col("d_year") === year && col("d_moy").isin(moy, moy + 1))
      .select("d_date_sk", "d_moy")
    val cov = s.table("inventory")
      .join(broadcast(dd), col("inv_date_sk") === col("d_date_sk"))
      .groupBy(col("inv_warehouse_sk"), col("inv_item_sk"), col("d_moy"))
      .agg(Exact.dstddev(col("inv_quantity_on_hand").cast("double")).as("sd"),
        Exact.davg(col("inv_quantity_on_hand").cast("double")).as("mean"))
      // multiply form: ANSI mode errors on sd/0, so never divide by a
      // possibly-zero mean inside the predicate
      .filter(col("mean") > 0 && col("sd") >= col("mean") * coefficient)
      .select(col("inv_warehouse_sk"), col("inv_item_sk"), col("d_moy"),
        round(col("sd") / col("mean"), 6).as("cov"))
    val m1 = cov.filter(col("d_moy") === moy)
      .select(col("inv_warehouse_sk").as("w1"), col("inv_item_sk").as("i1"),
        col("cov").as("cov_m1"))
    val m2 = cov.filter(col("d_moy") === moy + 1)
      .select(col("inv_warehouse_sk").as("w2"), col("inv_item_sk").as("i2"),
        col("cov").as("cov_m2"))
    m1.join(m2, col("w1") === col("w2") && col("i1") === col("i2"))
      .select(col("w1").as("inv_warehouse_sk"), col("i1").as("inv_item_sk"),
        col("cov_m1"), col("cov_m2"))
      .orderBy("inv_warehouse_sk", "inv_item_sk")
  }

  /** q24: cross-price elasticity of an item after competitor price
    * changes. Ref: q24_dask_sql.py:32-75.
    */
  def q24(s: SparkSession, itemSk: Long = 10000L): DataFrame = {
    val priceChanges = s.table("item_marketprices")
      .join(s.table("item").select("i_item_sk", "i_current_price"),
        col("imp_item_sk") === col("i_item_sk"))
      .filter(col("i_item_sk") === itemSk)
      .select(col("i_item_sk"), col("imp_sk"),
        ((col("imp_competitor_price") - col("i_current_price"))
          .cast("double") / col("i_current_price").cast("double"))
          .as("price_change"),
        col("imp_start_date"),
        (col("imp_end_date") - col("imp_start_date")).as("no_days"))
    // ONE conditional aggregation per fact table — the reference's
    // own shape (q24_sql.py:68-83, prev/curr as SUM(CASE ...) in a
    // single pass) — instead of the former four filter+join+groupBy
    // pipelines (2x the fact scans/joins). Window-empty sums stay
    // NULL here and the non-null filter below reproduces the old
    // inner-join-chain semantics (a group survives iff all four
    // windows saw >= 1 NON-NULL-quantity row), which is what the b51
    // oracle pins; the reference's ELSE 0 would additionally keep
    // all-zero groups whose elasticity then divides by zero. One
    // documented edge the fixtures don't exercise: a window whose
    // matched rows ALL carry NULL quantity sums to NULL and is
    // dropped here, where the old chain kept the group with a NULL
    // prev/curr (a null-elasticity row that count("delta") then
    // excluded from the mean anyway — so the final elasticity value
    // agrees; only the intermediate group set differs).
    def qtyAgg(t: String, itemCol: String, dateCol: String,
        qtyCol: String, pfx: String) =
      s.table(t).filter(col(itemCol) === itemSk)
        .join(broadcast(priceChanges), col(itemCol) === col("i_item_sk"))
        .groupBy("imp_sk", "price_change")
        .agg(
          sum(when(col(dateCol) >= col("imp_start_date") - col("no_days") &&
            col(dateCol) < col("imp_start_date"), col(qtyCol)))
            .as(s"${pfx}_prev"),
          sum(when(col(dateCol) >= col("imp_start_date") &&
            col(dateCol) < col("imp_start_date") + col("no_days"),
            col(qtyCol))).as(s"${pfx}_curr"))
    val j = qtyAgg("store_sales", "ss_item_sk", "ss_sold_date_sk",
        "ss_quantity", "ss")
      .join(qtyAgg("web_sales", "ws_item_sk", "ws_sold_date_sk",
        "ws_quantity", "ws"), Seq("imp_sk", "price_change"))
      .filter(col("ss_prev").isNotNull && col("ss_curr").isNotNull &&
        col("ws_prev").isNotNull && col("ws_curr").isNotNull)
      .withColumn("delta",
        (col("ss_curr") + col("ws_curr") - col("ss_prev") - col("ws_prev"))
          .cast("double") /
          ((col("ss_prev") + col("ws_prev")).cast("double") * col("price_change")))
    j.agg((sum("delta") / count("delta")).as("cross_price_elasticity"))
      .withColumn("ws_item_sk", lit(itemSk))
  }

  /** q25: RFM features per customer from both channels (cutoff date)
    * -> k-means(8, 20). Ref: q25_dask_sql.py:55-147.
    */
  /** q25's deterministic RFM feature frame (upstream of the k-means
    * fit) — exposed for the direct DuckDB gate (b56). */
  def q25Features(s: SparkSession, cutoff: String = "2002-01-02"): DataFrame = {
    val dd = s.table("date_dim")
      .withColumn("dd", to_date(col("d_date"))).select("d_date_sk", "dd")
    val store = s.table("store_sales").filter(col("ss_customer_sk").isNotNull)
      .join(broadcast(dd), col("ss_sold_date_sk") === col("d_date_sk"))
      .select(col("ss_customer_sk").as("cid"),
        col("ss_ticket_number").as("oid"), col("dd"),
        col("ss_net_paid").as("amount"))
    val web = s.table("web_sales").filter(col("ws_bill_customer_sk").isNotNull)
      .join(broadcast(dd), col("ws_sold_date_sk") === col("d_date_sk"))
      .select(col("ws_bill_customer_sk").as("cid"),
        col("ws_order_number").as("oid"), col("dd"),
        col("ws_net_paid").as("amount"))
    store.unionByName(web).groupBy("cid").agg(
      max(when(col("dd") >= lit(cutoff), 1.0).otherwise(0.0)).as("recency"),
      countDistinct("oid").cast("double").as("frequency"),
      sum("amount").cast("double").as("totalspend"))
  }

  def q25(s: SparkSession, cutoff: String = "2002-01-02"): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    val feats = q25Features(s, cutoff)
    val data = new VectorAssembler()
      .setInputCols(Array("recency", "frequency", "totalspend"))
      .setOutputCol("features").transform(feats)
    val model = kmeansSummary(data, 8)
    model.summary.predictions
      .groupBy(col("prediction").as("cluster")).agg(count(lit(1)).as("n"))
      .withColumn("wssse", round(lit(model.summary.trainingCost), 3))
      .orderBy(desc("n"), col("cluster"))
  }

  /** q26: per-customer counts across the 15 class ids of a category
    * (>5 items) -> k-means(8, 20). Ref: q26_dask_sql.py:37-66.
    */
  /** q26's deterministic per-class count feature frame (upstream of
    * the k-means fit) — exposed for the direct DuckDB gate (b57). */
  def q26Features(s: SparkSession, category: String = "Books",
      minItems: Long = 5): DataFrame = {
    val items = s.table("item")
      .filter(col("i_category") === category)
      .select("i_item_sk", "i_class_id")
    val base = s.table("store_sales")
      .filter(col("ss_customer_sk").isNotNull)
      .join(broadcast(items), col("ss_item_sk") === col("i_item_sk"))
    val classCols = (1 to 15).map(i =>
      sum(when(col("i_class_id") === i, 1).otherwise(0))
        .cast("double").as(s"id$i"))
    // total = COUNT of ALL the customer's Books rows — the
    // reference's HAVING count(ss_item_sk) > 5 (q26_sql.py:99), NOT
    // the sum of the 15 class-id columns: a purchase whose i_class_id
    // is NULL or outside 1..15 counts toward the threshold while
    // contributing to no feature column
    val totalCol = count(col("ss_item_sk")).cast("double").as("total")
    base.groupBy(col("ss_customer_sk").as("cid"))
      .agg(classCols.head, (classCols.tail :+ totalCol): _*)
      .filter(col("total") > minItems)
  }

  def q26(s: SparkSession, category: String = "Books",
      minItems: Long = 5): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    val feats = q26Features(s, category, minItems)
    val data = new VectorAssembler()
      .setInputCols((1 to 15).map(i => s"id$i").toArray)
      .setOutputCol("features").transform(feats)
    val model = kmeansSummary(data, 8)
    model.summary.predictions
      .groupBy(col("prediction").as("cluster")).agg(count(lit(1)).as("n"))
      .withColumn("wssse", round(lit(model.summary.trainingCost), 3))
      .orderBy(desc("n"), col("cluster"))
  }

  /** q27: "NER" — company names in reviews of one item plus the
    * containing sentence. The reference's tagger is pluggable and
    * explicitly unverified (q27_utils.py:42-54, utils.py:648-650);
    * default extractor is a capitalized-token gazetteer-free heuristic
    * running per partition (the one legitimately opaque UDF surface).
    */
  def q27(s: SparkSession, itemSk: Long = 10002L,
      extractor: String => Seq[String] = Ner.capitalizedSpans): DataFrame = {
    import s.implicits._
    val sentences = BdbQueries1.sentencesOf(
      s.table("product_reviews")
        .filter(col("pr_item_sk") === itemSk &&
          col("pr_review_content").isNotNull)
        .select(col("pr_review_sk"), col("pr_item_sk"),
          col("pr_review_content")),
      "pr_review_content")
    val tagged = sentences
      .select(col("pr_review_sk"), col("pr_item_sk"), col("sentence"))
      .as[(Long, Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (rsk, isk, sent) =>
          extractor(sent).map(company => (rsk, isk, company, sent))
        }
      }
      .toDF("review_sk", "item_sk", "company_name", "review_sentence")
    tagged.orderBy("review_sk", "company_name", "review_sentence")
  }

  /** q28: naive bayes sentiment classifier on reviews (90/10 modulo
    * split, alpha=0.001, labels from rating: 1-2 NEG / 3 NEUT / 4-5
    * POS). Ref: q28_dask_sql.py:33-66, q28_utils.py:73-82.
    *
    * Multinomial NB over the 2^23-bucket hashed 1-2-gram feature
    * space (q28_utils.py:36-37), computed SPARSE: the model is a
    * (label, bucket)-keyed count table — only buckets that actually
    * occur materialize, with map-side partial aggregation — instead
    * of MLlib NaiveBayes's dense per-class aggregation buffers
    * (classes x numFeatures doubles PER TASK, which OOM'd a 24 g
    * single-JVM harness at 2^23 and forced a de-rated 2^18 scale
    * run). The NB math is MLlib's exactly — theta = log((ct + a) /
    * (tot_c + a*numFeatures)), prior = log((docs_c + a) /
    * (docs + a*numClasses)), argmax with lowest-label tiebreak —
    * asserted against MLlib NaiveBayes on identical vectors in
    * BdbQueriesSpec. The bucket function is SQL hash() (codegen'd
    * murmur3_32 seed 42) mod numFeatures; ml.HashingTF's murmur3
    * variant differs in tail bytes, as does the reference's own
    * sklearn/cuML vectorizer — the hashed-trick family, not one
    * hash's collisions, is the contract.
    */
  def q28(s: SparkSession, numFeatures: Int = 1 << 23): DataFrame = {
    val alpha = 0.001
    val labeled = s.table("product_reviews")
      .filter(col("pr_review_content").isNotNull &&
        col("pr_review_rating").isNotNull)
      .withColumn("label",
        when(col("pr_review_rating") <= 2, 0.0)
          .when(col("pr_review_rating") === 3, 1.0).otherwise(2.0))
      .withColumn("words", split(lower(col("pr_review_content")), "[^a-z']+"))
      .select("pr_review_sk", "label", "words")
    val isTest = pmod(col("pr_review_sk"), lit(10)) === 0
    // feature stream: unigrams AND space-joined bigrams — the
    // reference's HashingVectorizer ngram_range=(1,2)
    // (q28_utils.py:37) — hashed into one bucket space; one
    // occurrence row per feature (tf folds into the count/sum
    // aggregates below). Empty split artifacts stay IN, as they do
    // for a hashing vectorizer's raw token stream. The bigram array
    // is built INSIDE the explode over a projection that carries
    // `words` as a materialized attribute (the Dedup.withWords
    // lesson: Generate does not collapse into its child Project, so
    // the split is evaluated once, not once per element access).
    def toks(df: DataFrame): DataFrame = df
      .select(col("pr_review_sk"), col("label"),
        explode(concat(col("words"),
          when(size(col("words")) >= 2,
            expr("transform(sequence(1, size(words) - 1), " +
              "i -> concat_ws(' ', element_at(words, i), " +
              "element_at(words, i + 1)))"))
            .otherwise(array().cast("array<string>")))).as("word"))
      .withColumn("b", pmod(hash(col("word")), lit(numFeatures)))

    val train = labeled.filter(!isTest)
    // sparse model: per-(label, bucket) token counts; per-label
    // totals and doc counts are class-bounded (3 rows)
    val cb = toks(train).groupBy("label", "b")
      .agg(count(lit(1)).as("ct"))
    val ctot = cb.groupBy("label").agg(sum("ct").as("tot"))
    val theta = cb.join(broadcast(ctot), "label")
      .select(col("label").as("c"), col("b"),
        log((col("ct") + alpha) / (col("tot") + alpha * numFeatures))
          .as("lp"))
    // default log-prob for buckets unseen in a class (ct = 0)
    val defLp = ctot.select(col("label").as("c"),
      log(lit(alpha) / (col("tot") + alpha * numFeatures)).as("def_lp"))
    val nDocs = train.groupBy().agg(count(lit(1)).as("nd"))
    val priors = train.groupBy("label").agg(count(lit(1)).as("dc"))
      .crossJoin(broadcast(nDocs))
      .select(col("label").as("c"),
        log((col("dc") + alpha) / (col("nd") + alpha * 3)).as("lprior"))
    val classes = priors.select("c")

    // scoring: every test token scores against every class; theta
    // joins (c, b)-keyed with NO broadcast hint — the table is
    // (classes x touched-buckets)-sized, so AQE broadcasts while it
    // fits and falls back to a shuffle join when it doesn't
    val scored = toks(labeled.filter(isTest))
      .withColumnRenamed("label", "true_label")
      .crossJoin(broadcast(classes))
      .join(theta, Seq("c", "b"), "left")
      .join(broadcast(defLp), "c")
      .groupBy(col("pr_review_sk"), col("true_label"), col("c"))
      .agg(sum(coalesce(col("lp"), col("def_lp"))).as("ll"))
      .join(broadcast(priors), "c")
      .select(col("pr_review_sk"), col("true_label"), col("c"),
        (col("ll") + col("lprior")).as("score"))
    // argmax with lowest-label tiebreak (MLlib's argmax semantics)
    scored.groupBy(col("pr_review_sk"), col("true_label"))
      .agg(min_by(col("c"),
        struct((-col("score")).as("ns"), col("c"))).as("pred_label"))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  /** q29: item categories co-purchased in one web order, pair counts,
    * top-100. Ref: q29_dask_sql.py:33-68.
    */
  def q29(s: SparkSession, limit: Int = 100): DataFrame = {
    val i = s.table("item").select("i_item_sk", "i_category_id", "i_category")
    // one shuffle on the order key instead of distinct + self-join:
    // the collected set dedupes (id, category) per order, sort_array
    // orders the structs by i_category_id (first field), and
    // ArrayPairs emits exactly the a.id < b.id pairs
    s.table("web_sales")
      .join(broadcast(i), col("ws_item_sk") === col("i_item_sk"))
      .filter(col("i_category_id").isNotNull)
      .groupBy(col("ws_order_number"))
      .agg(sort_array(collect_set(
        struct(col("i_category_id"), col("i_category")))).as("_cats"))
      .select(graft.expressions.ArrayPairs.array_pairs(col("_cats"))
        .as(Seq("c1", "c2")))
      .groupBy(col("c1.i_category").as("category_1"),
        col("c2.i_category").as("category_2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("category_1"), col("category_2"))
      .limit(limit)
  }

  /** q30: item categories co-viewed in one click session (timeout
    * 3600 s), pair counts, top-40. Ref: q30_dask_sql.py:43-85.
    */
  def q30(s: SparkSession, timeoutSec: Long = 3600, limit: Int = 40): DataFrame = {
    val i = s.table("item").select("i_item_sk", "i_category_id", "i_category")
    val clicks = s.table("web_clickstreams")
      .filter(col("wcs_user_sk").isNotNull && col("wcs_item_sk").isNotNull)
      .join(broadcast(i), col("wcs_item_sk") === col("i_item_sk"))
      .filter(col("i_category_id").isNotNull)
      .select(col("wcs_user_sk"),
        (col("wcs_click_date_sk") * 86400 + col("wcs_click_time_sk")).as("ts"),
        col("i_category"))
      .withColumn("eid", monotonically_increasing_id())
    val sess = Sessionize.byTimeout(clicks, "wcs_user_sk", "ts", "eid", timeoutSec)
    Sessionize.sessionPairs(sess, "wcs_user_sk", "session_seq", "i_category")
      .groupBy(col("item_1").as("category_1"), col("item_2").as("category_2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("category_1"), col("category_2"))
      .limit(limit)
  }
}

/** Pluggable NER extractors (reference: spaCy/BERT per partition,
  * `bdb_tools/q27_utils.py:42-54` / `q27_bert_utils.py:28-60` — model
  * choice explicitly pluggable, output unverified). Two JVM
  * implementations stand in for the reference's two models: a
  * recall-oriented capitalization tagger and a precision-oriented
  * suffix/gazetteer tagger; select by parameter ([[byName]]) or pass
  * any `String => Seq[String]` to `q27(extractor = ...)`.
  */
object Ner {
  /** Heuristic default: maximal spans of capitalized tokens. */
  def capitalizedSpans(sentence: String): Seq[String] = {
    val tokens = sentence.split("\\s+").toSeq
    val spans = scala.collection.mutable.ListBuffer.empty[String]
    val cur = scala.collection.mutable.ListBuffer.empty[String]
    tokens.foreach { t =>
      val w = t.filter(_.isLetter)
      if (w.nonEmpty && w.head.isUpper) cur += w
      else {
        if (cur.size >= 1) spans += cur.mkString(" ")
        cur.clear()
      }
    }
    if (cur.nonEmpty) spans += cur.mkString(" ")
    spans.distinct.toSeq
  }

  /** Corporate suffix tokens a precision tagger accepts (standalone
    * "Acme Corp" or fused "MegaMart").
    */
  val orgSuffixes: Set[String] =
    Set("Corp", "Inc", "Co", "Ltd", "LLC", "Mart", "Group", "Labs")

  /** Known-org gazetteer for names no suffix rule catches. Callers
    * tagging a real corpus pass their own (the reference swaps model
    * weights the same way).
    */
  val defaultGazetteer: Set[String] =
    Set("StoreOne", "StoreTwo", "MegaMart", "Acme Corp")

  /** Precision-oriented second tagger: keeps a capitalized span only
    * when it carries a corporate suffix token or hits the gazetteer —
    * drops the sentence-initial false positives the recall tagger
    * returns. Output is a subset of [[capitalizedSpans]] by
    * construction.
    */
  def gazetteerOrgs(gazetteer: Set[String] = defaultGazetteer)(
      sentence: String): Seq[String] =
    capitalizedSpans(sentence).filter { span =>
      gazetteer.contains(span) || span.split(" ").exists(t =>
        orgSuffixes.exists(sfx =>
          t == sfx || (t.endsWith(sfx) && t.length > sfx.length)))
    }

  /** Statistical third extractor: the averaged-perceptron tagger
    * ([[PerceptronNer]]) — learned weights, no hand-coded rule. */
  def perceptronOrgs: String => Seq[String] = PerceptronNer.orgSpans

  /** Pretrained fourth extractor: the same perceptron architecture
    * with FROZEN weights loaded from a committed model artifact
    * ([[PretrainedNer]], trained offline by `graft.tools.TrainNer` on
    * the committed CoNLL-style corpus) — the load-a-shipped-model
    * seam the reference fills with spaCy/BERT checkpoints. */
  def pretrainedOrgs: String => Seq[String] = PretrainedNer.orgSpans

  /** Parameter-selectable registry — the q27 harness seam. */
  def byName(name: String): String => Seq[String] = name match {
    case "capitalized" => capitalizedSpans
    case "gazetteer" => gazetteerOrgs()
    case "perceptron" => perceptronOrgs
    case "pretrained" => pretrainedOrgs
    case other => throw new IllegalArgumentException(
      s"unknown NER extractor '$other' " +
        "(capitalized | gazetteer | perceptron | pretrained)")
  }
}
