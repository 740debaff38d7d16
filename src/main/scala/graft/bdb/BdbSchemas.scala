package graft.bdb

import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{broadcast, count, lit}
import org.apache.spark.sql.types.StructType

/** The TPCx-BB 23-table data model (reference:
  * `gpu_bdb/spark_table_schemas (one .schema file per table)`, applied at load time by
  * `gpu_bdb/queries/load_test/gpu_bdb_load_test.py:31-44`), expressed
  * as Spark DDL. Money is DECIMAL(7,2); surrogate keys BIGINT; dates
  * in dimensions are STRING 'yyyy-MM-dd' re-parsed on demand
  * (`bdb_tools/utils.py:943-954`).
  */
object BdbSchemas {

  val ddl: Map[String, String] = Map(
    "customer" ->
      """c_customer_sk bigint, c_customer_id string, c_current_cdemo_sk bigint,
        |c_current_hdemo_sk bigint, c_current_addr_sk bigint,
        |c_first_shipto_date_sk bigint, c_first_sales_date_sk bigint,
        |c_salutation string, c_first_name string, c_last_name string,
        |c_preferred_cust_flag string, c_birth_day int, c_birth_month int,
        |c_birth_year int, c_birth_country string, c_login string,
        |c_email_address string, c_last_review_date string""".stripMargin,
    "customer_address" ->
      """ca_address_sk bigint, ca_address_id string, ca_street_number string,
        |ca_street_name string, ca_street_type string, ca_suite_number string,
        |ca_city string, ca_county string, ca_state string, ca_zip string,
        |ca_country string, ca_gmt_offset decimal(5,2),
        |ca_location_type string""".stripMargin,
    "customer_demographics" ->
      """cd_demo_sk bigint, cd_gender string, cd_marital_status string,
        |cd_education_status string, cd_purchase_estimate int,
        |cd_credit_rating string, cd_dep_count int, cd_dep_employed_count int,
        |cd_dep_college_count int""".stripMargin,
    "date_dim" ->
      """d_date_sk bigint, d_date_id string, d_date string, d_month_seq int,
        |d_week_seq int, d_quarter_seq int, d_year int, d_dow int, d_moy int,
        |d_dom int, d_qoy int, d_fy_year int, d_fy_quarter_seq int,
        |d_fy_week_seq int, d_day_name string, d_quarter_name string,
        |d_holiday string, d_weekend string, d_following_holiday string,
        |d_first_dom int, d_last_dom int, d_same_day_ly int, d_same_day_lq int,
        |d_current_day string, d_current_week string, d_current_month string,
        |d_current_quarter string, d_current_year string""".stripMargin,
    "household_demographics" ->
      """hd_demo_sk bigint, hd_income_band_sk bigint, hd_buy_potential string,
        |hd_dep_count int, hd_vehicle_count int""".stripMargin,
    "income_band" ->
      "ib_income_band_sk bigint, ib_lower_bound int, ib_upper_bound int",
    "inventory" ->
      """inv_date_sk bigint, inv_item_sk bigint, inv_warehouse_sk bigint,
        |inv_quantity_on_hand int""".stripMargin,
    "item" ->
      """i_item_sk bigint, i_item_id string, i_rec_start_date string,
        |i_rec_end_date string, i_item_desc string, i_current_price decimal(7,2),
        |i_wholesale_cost decimal(7,2), i_brand_id int, i_brand string,
        |i_class_id int, i_class string, i_category_id int, i_category string,
        |i_manufact_id int, i_manufact string, i_size string,
        |i_formulation string, i_color string, i_units string,
        |i_container string, i_manager_id int, i_product_name string""".stripMargin,
    "item_marketprices" ->
      """imp_sk bigint, imp_item_sk bigint, imp_competitor string,
        |imp_competitor_price decimal(7,2), imp_start_date bigint,
        |imp_end_date bigint""".stripMargin,
    "product_reviews" ->
      """pr_review_sk bigint, pr_review_date string, pr_review_time string,
        |pr_review_rating int, pr_item_sk bigint, pr_user_sk bigint,
        |pr_order_sk bigint, pr_review_content string""".stripMargin,
    "promotion" ->
      """p_promo_sk bigint, p_promo_id string, p_start_date_sk bigint,
        |p_end_date_sk bigint, p_item_sk bigint, p_cost decimal(15,2),
        |p_response_target int, p_promo_name string, p_channel_dmail string,
        |p_channel_email string, p_channel_catalog string, p_channel_tv string,
        |p_channel_radio string, p_channel_press string, p_channel_event string,
        |p_channel_demo string, p_channel_details string, p_purpose string,
        |p_discount_active string""".stripMargin,
    "reason" ->
      "r_reason_sk bigint, r_reason_id string, r_reason_desc string",
    "ship_mode" ->
      """sm_ship_mode_sk bigint, sm_ship_mode_id string, sm_type string,
        |sm_code string, sm_carrier string, sm_contract string""".stripMargin,
    "store" ->
      """s_store_sk bigint, s_store_id string, s_rec_start_date string,
        |s_rec_end_date string, s_closed_date_sk bigint, s_store_name string,
        |s_number_employees int, s_floor_space int, s_hours string,
        |s_manager string, s_market_id int, s_geography_class string,
        |s_market_desc string, s_market_manager string, s_division_id int,
        |s_division_name string, s_company_id int, s_company_name string,
        |s_street_number string, s_street_name string, s_street_type string,
        |s_suite_number string, s_city string, s_county string, s_state string,
        |s_zip string, s_country string, s_gmt_offset decimal(5,2),
        |s_tax_precentage decimal(5,2)""".stripMargin,
    "store_returns" ->
      """sr_returned_date_sk bigint, sr_return_time_sk bigint,
        |sr_item_sk bigint, sr_customer_sk bigint, sr_cdemo_sk bigint,
        |sr_hdemo_sk bigint, sr_addr_sk bigint, sr_store_sk bigint,
        |sr_reason_sk bigint, sr_ticket_number bigint, sr_return_quantity int,
        |sr_return_amt decimal(7,2), sr_return_tax decimal(7,2),
        |sr_return_amt_inc_tax decimal(7,2), sr_fee decimal(7,2),
        |sr_return_ship_cost decimal(7,2), sr_refunded_cash decimal(7,2),
        |sr_reversed_charge decimal(7,2), sr_store_credit decimal(7,2),
        |sr_net_loss decimal(7,2)""".stripMargin,
    "store_sales" ->
      """ss_sold_date_sk bigint, ss_sold_time_sk bigint, ss_item_sk bigint,
        |ss_customer_sk bigint, ss_cdemo_sk bigint, ss_hdemo_sk bigint,
        |ss_addr_sk bigint, ss_store_sk bigint, ss_promo_sk bigint,
        |ss_ticket_number bigint, ss_quantity int,
        |ss_wholesale_cost decimal(7,2), ss_list_price decimal(7,2),
        |ss_sales_price decimal(7,2), ss_ext_discount_amt decimal(7,2),
        |ss_ext_sales_price decimal(7,2), ss_ext_wholesale_cost decimal(7,2),
        |ss_ext_list_price decimal(7,2), ss_ext_tax decimal(7,2),
        |ss_coupon_amt decimal(7,2), ss_net_paid decimal(7,2),
        |ss_net_paid_inc_tax decimal(7,2), ss_net_profit decimal(7,2)""".stripMargin,
    "time_dim" ->
      """t_time_sk bigint, t_time_id string, t_time int, t_hour int,
        |t_minute int, t_second int, t_am_pm string, t_shift string,
        |t_sub_shift string, t_meal_time string""".stripMargin,
    "warehouse" ->
      """w_warehouse_sk bigint, w_warehouse_id string, w_warehouse_name string,
        |w_warehouse_sq_ft int, w_street_number string, w_street_name string,
        |w_street_type string, w_suite_number string, w_city string,
        |w_county string, w_state string, w_zip string, w_country string,
        |w_gmt_offset decimal(5,2)""".stripMargin,
    "web_clickstreams" ->
      """wcs_click_date_sk bigint, wcs_click_time_sk bigint,
        |wcs_sales_sk bigint, wcs_item_sk bigint, wcs_web_page_sk bigint,
        |wcs_user_sk bigint""".stripMargin,
    "web_page" ->
      """wp_web_page_sk bigint, wp_web_page_id string, wp_rec_start_date string,
        |wp_rec_end_date string, wp_creation_date_sk bigint,
        |wp_access_date_sk bigint, wp_autogen_flag string, wp_customer_sk bigint,
        |wp_url string, wp_type string, wp_char_count int, wp_link_count int,
        |wp_image_count int, wp_max_ad_count int""".stripMargin,
    "web_returns" ->
      """wr_returned_date_sk bigint, wr_returned_time_sk bigint,
        |wr_item_sk bigint, wr_refunded_customer_sk bigint,
        |wr_refunded_cdemo_sk bigint, wr_refunded_hdemo_sk bigint,
        |wr_refunded_addr_sk bigint, wr_returning_customer_sk bigint,
        |wr_returning_cdemo_sk bigint, wr_returning_hdemo_sk bigint,
        |wr_returning_addr_sk bigint, wr_web_page_sk bigint,
        |wr_reason_sk bigint, wr_order_number bigint, wr_return_quantity int,
        |wr_return_amt decimal(7,2), wr_return_tax decimal(7,2),
        |wr_return_amt_inc_tax decimal(7,2), wr_fee decimal(7,2),
        |wr_return_ship_cost decimal(7,2), wr_refunded_cash decimal(7,2),
        |wr_reversed_charge decimal(7,2), wr_account_credit decimal(7,2),
        |wr_net_loss decimal(7,2)""".stripMargin,
    "web_sales" ->
      """ws_sold_date_sk bigint, ws_sold_time_sk bigint, ws_ship_date_sk bigint,
        |ws_item_sk bigint, ws_bill_customer_sk bigint, ws_bill_cdemo_sk bigint,
        |ws_bill_hdemo_sk bigint, ws_bill_addr_sk bigint,
        |ws_ship_customer_sk bigint, ws_ship_cdemo_sk bigint,
        |ws_ship_hdemo_sk bigint, ws_ship_addr_sk bigint,
        |ws_web_page_sk bigint, ws_web_site_sk bigint, ws_ship_mode_sk bigint,
        |ws_warehouse_sk bigint, ws_promo_sk bigint, ws_order_number bigint,
        |ws_quantity int, ws_wholesale_cost decimal(7,2),
        |ws_list_price decimal(7,2), ws_sales_price decimal(7,2),
        |ws_ext_discount_amt decimal(7,2), ws_ext_sales_price decimal(7,2),
        |ws_ext_wholesale_cost decimal(7,2), ws_ext_list_price decimal(7,2),
        |ws_ext_tax decimal(7,2), ws_coupon_amt decimal(7,2),
        |ws_ext_ship_cost decimal(7,2), ws_net_paid decimal(7,2),
        |ws_net_paid_inc_tax decimal(7,2), ws_net_paid_inc_ship decimal(7,2),
        |ws_net_paid_inc_ship_tax decimal(7,2), ws_net_profit decimal(7,2)""".stripMargin,
    "web_site" ->
      """web_site_sk bigint, web_site_id string, web_rec_start_date string,
        |web_rec_end_date string, web_name string, web_open_date_sk bigint,
        |web_close_date_sk bigint, web_class string, web_manager string,
        |web_mkt_id int, web_mkt_class string, web_mkt_desc string,
        |web_market_manager string, web_company_id int, web_company_name string,
        |web_street_number string, web_street_name string,
        |web_street_type string, web_suite_number string, web_city string,
        |web_county string, web_state string, web_zip string,
        |web_country string, web_gmt_offset decimal(5,2),
        |web_tax_percentage decimal(5,2)""".stripMargin
  )

  def schema(table: String): StructType =
    StructType.fromDDL(ddl(table).replace("\n", " "))

  val tables: Seq[String] = ddl.keys.toSeq.sorted

  /** Dimensions the reference coalesces to one partition for map-side
    * joins (`bdb_tools/readers.py:55-72`); we broadcast instead.
    */
  val broadcastDims: Set[String] = Set(
    "customer", "customer_address", "item", "item_marketprices",
    "date_dim", "time_dim", "web_site", "income_band", "ship_mode",
    "household_demographics", "promotion", "web_page", "warehouse",
    "reason", "store", "customer_demographics")
}

/** Registers the 23 tables as temp views from a base directory of
  * parquet (`basePath/table-name dir of parquet files`, the reference layout after
  * its load test); pipe-separated dataGen CSV
  * (`gpu_bdb_load_test.py:47-92`: sep '|', no quoting, schema applied)
  * is converted to that layout first by [[BdbCatalog.loadTest]].
  */
object BdbCatalog {

  /** Table `t` read from `path` with its declared schema (so no read
    * starts a schema-inference job) and, for a dimension, the
    * broadcast hint: the one frame rule for every parquet
    * registration, the benchmark's and the direct gates' alike. */
  def frame(spark: SparkSession, t: String, path: String): DataFrame =
    mark(t, spark.read.schema(BdbSchemas.schema(t)).parquet(path))

  def registerParquet(spark: SparkSession, basePath: String): Unit =
    BdbSchemas.tables.foreach { t =>
      frame(spark, t, s"$basePath/$t").createOrReplaceTempView(t)
    }

  /** Register pre-built DataFrames (tests / alternate sources). */
  def registerFrames(frames: Map[String, DataFrame]): Unit =
    frames.foreach { case (t, df) => mark(t, df).createOrReplaceTempView(t) }

  /** The reference's load test: convert dataGen pipe-CSV to the
    * parquet layout queries run against, applying the declared schema
    * at conversion time and the dimension repartition discipline
    * (small dims to one file for map-side joins, the equivalent of
    * `bdb_tools/readers.py:133-134`; facts keep their parallelism).
    * Mirrors `queries/load_test/gpu_bdb_load_test.py:31-92`.
    *
    * Returns per-table (rows, seconds), in [[BdbSchemas.tables]] order,
    * so a harness can report conversion timing the way the reference's
    * load test does. The tables convert concurrently ([[perTable]]), so
    * each table's seconds are its own latency: they overlap, and their
    * sum is not the load's wall time. The row count is an
    * `Observation` on the write itself: one job per table, no re-read.
    */
  def loadTest(spark: SparkSession, csvBase: String,
      parquetBase: String): Seq[(String, Long, Double)] =
    perTable(spark) { t =>
      val t0 = System.nanoTime()
      val df0 = spark.read.schema(BdbSchemas.schema(t))
        .option("sep", "|").option("quote", "")
        .csv(s"$csvBase/$t")
      val df = if (BdbSchemas.broadcastDims(t)) df0.coalesce(1) else df0
      val rows = Observation()
      df.observe(rows, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$parquetBase/$t")
      val n = rows.get("n").asInstanceOf[Long]
      (t, n, (System.nanoTime() - t0) / 1e9)
    }

  /** `f` over every table, on a fixed pool of `defaultParallelism`
    * threads; results in [[BdbSchemas.tables]] order. The pool is made
    * here, by the calling thread, so its threads inherit the caller's
    * Spark local properties (job group, scheduler pool). The first
    * failure to happen is rethrown, and the pool is shut down on every
    * path.
    */
  private[bdb] def perTable[A](spark: SparkSession)(f: String => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = BdbSchemas.tables.map(t => done.submit(() => f(t)))
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def mark(t: String, df: DataFrame): DataFrame =
    if (BdbSchemas.broadcastDims(t)) broadcast(df) else df
}
