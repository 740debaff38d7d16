package graft.queries

import graft.Tables
import graft.ops.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator suite — SURVEY §2a (O1–O31) instantiated on
  * the driver testdata schema (lineitem/orders/customer/part/...).
  * Each query exercises one operator family the reference's 30 queries
  * rely on; citations point at the representative reference use.
  *
  * Scale notes (100 TB): every query here is a declarative DataFrame
  * plan — scans prune columns + push predicates into parquet, small
  * dims are broadcast, aggregations are partial (map-side) before the
  * shuffle, and no query collects more than a scalar to the driver.
  */
object Relational extends Suite {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val qs: Seq[Q] = Seq(

    // O1/O5/O6: parquet scan with column pruning + predicate pushdown
    // (ref: bdb_tools/readers.py:108-127 hand-passes relevant_cols; in
    // Spark, Catalyst ColumnPruning + PushDownPredicates do this).
    Q("o01_scan_prune",
      (s, d) => t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
        .filter(col("l_quantity") > 45)
        .orderBy("l_orderkey", "l_partkey", "l_quantity"),
      Some("""SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
             |WHERE l_quantity > 45
             |ORDER BY l_orderkey, l_partkey, l_quantity""".stripMargin)),

    // O6: compound filter — isin / between / notnull
    // (ref: queries/q01/gpu_bdb_query_01.py:83-89, q23:45).
    Q("o06_filter_multi",
      (s, d) => t(s, d, "orders")
        .filter(col("o_orderstatus").isin("O", "F") &&
          col("o_totalprice").between(50000, 300000) &&
          col("o_orderdate").isNotNull)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderstatus IN ('O','F')
             |  AND o_totalprice BETWEEN 50000 AND 300000
             |  AND o_orderdate IS NOT NULL
             |ORDER BY o_orderkey""".stripMargin)),

    // O7: OR-of-ANDs disjunctive predicate over a join
    // (ref: queries/q09/gpu_bdb_query_09_dask_sql.py:66-111).
    Q("o07_or_of_ands", (s, d) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(20, 40)) ||
          (col("p_type") === "PROMO" && col("l_quantity") >= 40))
        .agg(dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n"))
    },
      Some("""SELECT
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
             |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 20 AND 40)
             |   OR (p_type = 'PROMO' AND l_quantity >= 40)""".stripMargin)),

    // O8/O15: inner equi-join chain + hash aggregation
    // (ref: queries/q16/gpu_bdb_query_16.py:161-163, 209-211).
    Q("o08_join_agg", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("c_mktsegment")
    },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_lines,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // O9: left outer join + COALESCE of the null side
    // (ref: queries/q16/gpu_bdb_query_16_dask_sql.py:62-82).
    Q("o09_left_join_coalesce", (s, d) => {
      val o = t(s, d, "orders")
      val ret = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .groupBy("l_orderkey").agg(dsumDec(col("l_quantity")).as("rq"))
      o.join(ret, o("o_orderkey") === ret("l_orderkey"), "left_outer")
        .groupBy("o_orderpriority")
        .agg(coalesce(sum(col("rq")), lit(0)).cast("double").as("returned_qty"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority,
             |  CAST(COALESCE(SUM(rq), 0) AS DOUBLE) AS returned_qty,
             |  COUNT(*) AS n_orders
             |FROM orders LEFT JOIN (
             |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(14,2))) AS rq
             |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
             |) r ON o_orderkey = r.l_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // O10: left semi join (ref: bdb_tools/utils.py:929-940).
    Q("o10_semi_join", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // Left anti join (NOT EXISTS) — complement of O10.
    Q("o10b_anti_join", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // NOT IN vs NOT EXISTS three-valued logic: one NULL in the
    // subquery poisons NOT IN to UNKNOWN for every non-matching row
    // (zero results), while the null-free form anti-joins normally.
    // Spark plans the poisoned arm as a null-aware anti join — a
    // different (and broadcast-only) physical operator; both arms in
    // one query make the semantic cliff visible and oracle-checked.
    Q("o62_notin_nulls", (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT variant, n FROM (
              |  SELECT 'null_free' AS variant, COUNT(*) AS n FROM part
              |  WHERE p_partkey NOT IN
              |    (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
              |  UNION ALL
              |  SELECT 'null_poisoned', COUNT(*) FROM part
              |  WHERE p_partkey NOT IN
              |    (SELECT CASE WHEN l_quantity > 49 THEN l_partkey END
              |     FROM lineitem))
              |ORDER BY variant""".stripMargin)
    },
      Some("""SELECT variant, n FROM (
             |  SELECT 'null_free' AS variant, COUNT(*) AS n FROM part
             |  WHERE p_partkey NOT IN
             |    (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
             |  UNION ALL
             |  SELECT 'null_poisoned', COUNT(*) FROM part
             |  WHERE p_partkey NOT IN
             |    (SELECT CASE WHEN l_quantity > 49 THEN l_partkey END
             |     FROM lineitem))
             |ORDER BY variant""".stripMargin)),

    // O11: semi join written as correlated EXISTS in SQL — Catalyst's
    // RewritePredicateSubquery turns it into a left-semi
    // (ref: queries/q18/gpu_bdb_query_18_dask_sql.py:69-76).
    Q("o11_exists_subquery", (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
              |WHERE EXISTS (SELECT 1 FROM lineitem
              |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
              |ORDER BY o_orderkey""".stripMargin)
    },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
             |ORDER BY o_orderkey""".stripMargin)),

    // O12: semi join written as IN (subquery)
    // (ref: queries/q07/gpu_bdb_query_07_dask_sql.py:56-61).
    Q("o12_in_subquery", (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT p_partkey, p_name FROM part
              |WHERE p_partkey IN (
              |  SELECT l_partkey FROM lineitem WHERE l_quantity = 50)
              |ORDER BY p_partkey""".stripMargin)
    },
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_partkey IN (
             |  SELECT l_partkey FROM lineitem WHERE l_quantity = 50)
             |ORDER BY p_partkey""".stripMargin)),

    // O13/O19: distinct basket items → self-join pair generation with
    // a < residual, count, HAVING, top-k — the q01/q29 shape
    // (ref: queries/q01/gpu_bdb_query_01.py:49-65, q29_dask_sql.py:58-66).
    Q("o13_basket_pairs", (s, d) => {
      // one-shuffle pair generation (the b29/g01 form): the
      // groupBy(l_orderkey) exchange is the only shuffle before the
      // pair count; collect_set dedups within the basket and
      // ArrayPairs emits p1<p2 per row — replaces the
      // distinct + self-join shape (two shuffles + SMJ)
      t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("_items"))
        .select(graft.expressions.ArrayPairs.array_pairs(col("_items"))
          .as(Seq("p1", "p2")))
        .groupBy("p1", "p2")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 3)
        .orderBy(desc("cnt"), col("p1"), col("p2"))
        .limit(100)
    },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
             |SELECT x.l_partkey AS p1, y.l_partkey AS p2, COUNT(*) AS cnt
             |FROM b x JOIN b y
             |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |GROUP BY x.l_partkey, y.l_partkey
             |HAVING COUNT(*) >= 3
             |ORDER BY cnt DESC, p1, p2 LIMIT 100""".stripMargin)),

    // O14: inequality/range condition as conditional aggregation after
    // an equi-join (ref: queries/q24/gpu_bdb_query_24_dask_sql.py:55-67).
    Q("o14_range_cond_agg", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(when(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) <= 30, 1)
            .otherwise(0)).as("shipped_30d"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 30
             |      THEN 1 ELSE 0 END) AS BIGINT) AS shipped_30d,
             |  COUNT(*) AS n_lines
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // O15/O16/O18: the TPC-H-Q1 shape — multi-aggregate with exact
    // decimal sums, conditional agg, HAVING
    // (ref: q06_dask_sql.py:43-49, q16_dask_sql.py:59-69).
    Q("o15_multi_agg", (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(14,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(6,4)")))
            .cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) *
             |       (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS sum_disc_price,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // O16: pivot-style conditional aggregation
    // (ref: q26_dask_sql.py:44-59 — 15 CASE-WHEN class counts).
    Q("o16_conditional_agg", (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("l_returnflag") === "R",
            col("l_quantity").cast("decimal(14,2)")).otherwise(lit(0)))
            .cast("double").as("qty_returned"),
          sum(when(col("l_returnflag") === "N",
            col("l_quantity").cast("decimal(14,2)")).otherwise(lit(0)))
            .cast("double").as("qty_kept"),
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(14,2)) ELSE 0 END) AS DOUBLE) AS qty_returned,
             |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(14,2)) ELSE 0 END) AS DOUBLE) AS qty_kept,
             |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // O17: COUNT(*) group sizes (ref: q01:113-118).
    Q("o17_count_star",
      (s, d) => t(s, d, "orders").groupBy("o_orderpriority").count()
        .withColumnRenamed("count", "n").orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // O18: HAVING (ref: q01_dask_sql.py:64).
    Q("o18_having", (s, d) =>
      t(s, d, "lineitem").groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("total_qty"))
        .filter(col("n") > 40)
        .orderBy("l_partkey"),
      Some("""SELECT l_partkey, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS total_qty
             |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) > 40
             |ORDER BY l_partkey""".stripMargin)),

    // O19: DISTINCT projection (ref: q01_dask_sql.py:40-45).
    Q("o19_distinct",
      (s, d) => t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // O20: COUNT(DISTINCT) per group — built-in in Spark; the reference
    // hand-rolls dedup-then-count (q25_dask_sql.py:32-46).
    Q("o20_count_distinct", (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(DISTINCT l_orderkey) AS n_orders,
             |  COUNT(*) AS n_lines
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // O21: group-wise stddev for coefficient-of-variation — computed
    // from exact decimal components so both engines agree bitwise
    // (ref: queries/q23/gpu_bdb_query_23_dask_sql.py:50-58).
    Q("o21_stddev", (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(dstddev(col("l_quantity")).as("sd_qty"),
          davg(col("l_quantity")).as("mean_qty"))
        .withColumn("cov", col("sd_qty") / col("mean_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, sd_qty, mean_qty, sd_qty / mean_qty AS cov
             |FROM (
             |  SELECT l_returnflag,
             |    round(sqrt(GREATEST(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
             |          - CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE), 0.0)
             |         / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0))), 6) + 0 AS sd_qty,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS mean_qty
             |  FROM lineitem GROUP BY l_returnflag
             |) ORDER BY l_returnflag""".stripMargin)),

    // O22: compare each group to a global scalar mean
    // (ref: queries/q05/gpu_bdb_query_05_dask_sql.py:82-86).
    Q("o22_vs_global_mean", (s, d) => {
      val p = t(s, d, "part")
      val mean = p.agg(davg(col("p_retailprice")).as("gmean"))
      p.crossJoin(broadcast(mean))
        .filter(col("p_retailprice") > col("gmean"))
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    },
      Some("""SELECT p_partkey, p_name, p_retailprice FROM part
             |WHERE p_retailprice > (
             |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) FROM part)
             |ORDER BY p_partkey""".stripMargin)),

    // O23: Pearson correlation from exact components
    // (ref: queries/q11/gpu_bdb_query_11_dask_sql.py:63).
    Q("o23_corr", (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(dcorr(col("l_quantity"), col("l_extendedprice")).as("corr_qty_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      // the CASE den > 0 guard mirrors dcorr's NULL-on-degenerate
      // contract exactly (Exact.dcorr: when(den > 0, ...)): past 2^53
      // double rounding can push a constant column's exact-zero
      // variance slightly negative, where the unguarded oracle would
      // sqrt a negative product (NaN) while the engine returns NULL
      Some("""WITH c AS (
             |  SELECT l_returnflag,
             |    CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
             |    COUNT(*) AS n_rows
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag,
             |  CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
             |    THEN round((n*sxy - sx*sy) /
             |      sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) + 0 END
             |    AS corr_qty_price,
             |  n_rows AS n
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // O24: closed-form least-squares slope per group — the reference's
    // q15 "declining categories" arithmetic
    // (ref: queries/q15/gpu_bdb_query_15_dask_sql.py:41-64).
    Q("o24_regr_slope", (s, d) => {
      val o = t(s, d, "orders")
        .withColumn("day", datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
      o.groupBy("o_orderpriority")
        .agg(dslope(col("day"), col("o_totalprice")).as("slope"),
          dintercept(col("day"), col("o_totalprice")).as("intercept"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      Some("""WITH pts AS (
             |  SELECT o_orderpriority,
             |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             |    o_totalprice
             |  FROM orders)
             |SELECT o_orderpriority,
             |  round((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(day AS DECIMAL(18,0)) * CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             |   - CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE) * CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE))
             |  / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(day AS DECIMAL(18,0)) * CAST(day AS DECIMAL(18,0))) AS DOUBLE)
             |     - CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE) * CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE)), 6) + 0 AS slope,
             |  round((CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             |   - ((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(day AS DECIMAL(18,0)) * CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             |       - CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE) * CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE))
             |      / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(day AS DECIMAL(18,0)) * CAST(day AS DECIMAL(18,0))) AS DOUBLE)
             |         - CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE) * CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE)))
             |     * CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE))
             |  / CAST(COUNT(*) AS DOUBLE), 6) + 0 AS intercept,
             |  COUNT(*) AS n
             |FROM pts GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // O25: UNION ALL of two channel aggregates
    // (ref: q25_dask_sql.py:128-133).
    Q("o25_union_all", (s, d) => {
      val li = t(s, d, "lineitem")
      val a = li.filter(col("l_linestatus") === "F").groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("qty"))
        .withColumn("channel", lit("finished"))
      val b = li.filter(col("l_linestatus") === "O").groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("qty"))
        .withColumn("channel", lit("open"))
      a.unionByName(b).select("channel", "l_returnflag", "qty")
        .orderBy("channel", "l_returnflag")
    },
      Some("""SELECT 'finished' AS channel, l_returnflag,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
             |FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag
             |UNION ALL
             |SELECT 'open' AS channel, l_returnflag,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
             |FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_returnflag
             |ORDER BY channel, l_returnflag""".stripMargin)),

    // O26/O27: global multi-key sort + top-k limit — Spark plans
    // TakeOrderedAndProject, no full global sort materialized
    // (ref: q01_dask_sql.py:65-67).
    Q("o26_topk", (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100),
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // O28: window function over a keyed repartition — the Spark
    // collapse of the reference's DISTRIBUTE BY + per-partition logic
    // (ref: q02_dask_sql.py:46).
    Q("o28_window_rank", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // O29: scalar subquery spliced as a literal — compute the global
    // average, collect it, inline into the next plan
    // (ref: queries/q16/gpu_bdb_query_16_dask_sql.py:38-59).
    Q("o29_scalar_splice", (s, d) => {
      val li = t(s, d, "lineitem")
      val threshold = li
        .agg(davg(col("l_quantity")).as("m")).first().getDouble(0)
      li.filter(col("l_quantity") > lit(threshold))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_above"))
        .orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag, COUNT(*) AS n_above FROM lineitem
             |WHERE l_quantity > (
             |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) FROM lineitem)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // O30: deterministic modulo split (train/test sampling)
    // (ref: queries/q28/gpu_bdb_query_28_dask_sql.py:39-56).
    Q("o30_modulo_split", (s, d) =>
      t(s, d, "lineitem")
        .withColumn("bucket", pmod(col("l_orderkey"), lit(10)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("bucket"),
      Some("""SELECT l_orderkey % 10 AS bucket, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
             |FROM lineitem GROUP BY l_orderkey % 10 ORDER BY bucket""".stripMargin)),

    // O31: cache/persist a reused intermediate — the reference's
    // persist()+wait barrier (ref: q01_dask_sql.py:48-50). The filtered
    // set feeds two aggregates; caching avoids a double scan.
    Q("o31_cached_reuse", (s, d) => {
      val hot = t(s, d, "lineitem").filter(col("l_quantity") >= 25).cache()
      val byFlag = hot.groupBy("l_returnflag")
        .agg(dsum(col("l_extendedprice")).as("rev"))
        .withColumnRenamed("l_returnflag", "k").withColumn("dim", lit("flag"))
      val byStatus = hot.groupBy("l_linestatus")
        .agg(dsum(col("l_extendedprice")).as("rev"))
        .withColumnRenamed("l_linestatus", "k").withColumn("dim", lit("status"))
      byFlag.unionByName(byStatus).select("dim", "k", "rev").orderBy("dim", "k")
    },
      Some("""WITH hot AS (SELECT * FROM lineitem WHERE l_quantity >= 25)
             |SELECT 'flag' AS dim, l_returnflag AS k,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
             |FROM hot GROUP BY l_returnflag
             |UNION ALL
             |SELECT 'status' AS dim, l_linestatus AS k,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
             |FROM hot GROUP BY l_linestatus
             |ORDER BY dim, k""".stripMargin)),

    // O2/O3: CSV source + sink roundtrip (pipe-separated like the
    // reference's dataGen CSVs, ref: queries/load_test/
    // gpu_bdb_load_test.py:47-92). The aggregate proves the roundtrip
    // is lossless; the oracle aggregates the parquet directly.
    Q("o02_csv_roundtrip", (s, d) => {
      val tmp = "/root/repo/target/graft-tmp/csv_roundtrip"
      t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").option("sep", "|").option("header", "false")
        .csv(tmp)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType),
        StructField("l_quantity", DoubleType),
        StructField("l_returnflag", StringType)))
      s.read.schema(schema).option("sep", "|").csv(tmp)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // O3: parquet sink + re-read (ref: bdb_tools/utils.py:117-147).
    Q("o03_parquet_roundtrip", (s, d) => {
      val tmp = "/root/repo/target/graft-tmp/pq_roundtrip"
      t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").parquet(tmp)
      Tables.readParquet(s, tmp)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderstatus = 'F'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // O4: broadcast join of a small dimension
    // (ref: bdb_tools/readers.py:129-134 — 1-partition dims).
    Q("o04_broadcast_join", (s, d) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("p_brand")
    },
      Some("""SELECT p_brand, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin))
  )
}
