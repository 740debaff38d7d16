package graft.queries

import graft.Tables
import graft.ops.Exact._
import graft.ops.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational batch: OLAP surface beyond the reference's own
  * usage (rollup/grouping sets, pivot, moving windows, typed Dataset
  * API, semi-structured JSON extraction, approximate distinct) — the
  * operators a user of a general analytics engine expects.
  */
object Relational2 extends Suite {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Shared verbatim by the Spark side and the DuckDB oracle.
    * Declared BEFORE `qs`: object fields initialize in declaration
    * order, and a val defined below `qs` would be captured as null
    * inside the oracle map (which silently voids the whole
    * correctness dump — EntrySpec now guards against null oracles).
    */
  private val RecursiveAncSql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT p_partkey AS part,
      |    CAST(floor(p_partkey / 10) AS BIGINT) AS ancestor, 1 AS depth
      |  FROM part WHERE p_partkey >= 10
      |  UNION ALL
      |  SELECT part, CAST(floor(ancestor / 10) AS BIGINT), depth + 1
      |  FROM anc WHERE ancestor >= 10)
      |SELECT depth, COUNT(*) AS n,
      |  CAST(SUM(ancestor) AS BIGINT) AS ancestor_sum
      |FROM anc GROUP BY depth ORDER BY depth""".stripMargin

  val qs: Seq[Q] = Seq(

    // ROLLUP: subtotals + grand total in one pass (partial-agg
    // friendly; Spark plans Expand + single aggregation).
    Q("o32_rollup", (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty,
             |  COUNT(*) AS n
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // PIVOT: order-status spend per priority — Spark's relational
    // pivot; the oracle is the equivalent conditional aggregation
    // with matching column names.
    Q("o33_pivot", (s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .na.fill(0.0, Seq("F", "O", "P"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE), 0) AS F,
             |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE), 0) AS O,
             |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE), 0) AS P
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Moving window: 7-day trailing average of daily revenue
    // (rangeBetween over day numbers — event-time windows in batch).
    Q("o34_moving_avg", (s, d) => {
      val daily = t(s, d, "orders")
        .withColumn("day",
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
        .groupBy("day")
        .agg(dsumDec(col("o_totalprice")).as("rev"))
      val w = Window.orderBy("day").rangeBetween(-6, 0)
      daily
        .withColumn("rev7", sum(col("rev")).over(w).cast("double"))
        .withColumn("n7", count(lit(1)).over(w))
        .select(col("day"), col("rev").cast("double").as("rev"),
          round(col("rev7") / col("n7"), 6).as("avg7"))
        .orderBy("day")
    },
      Some("""WITH daily AS (
             |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             |    SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
             |  FROM orders GROUP BY 1)
             |SELECT day, CAST(rev AS DOUBLE) AS rev,
             |  round(CAST(SUM(rev) OVER w AS DOUBLE)
             |        / COUNT(*) OVER w, 6) AS avg7
             |FROM daily
             |WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY day""".stripMargin)),

    // Typed Dataset API: case-class rows + groupByKey/mapGroups
    // (the reference's dataframe-vs-typed split, SURVEY §1).
    Q("o35_typed_mapgroups", (s, d) => {
      import s.implicits._
      case class Line(l_returnflag: String, l_quantity: Double)
      val ds = t(s, d, "lineitem")
        .select("l_returnflag", "l_quantity").as[(String, Double)]
      ds.groupByKey(_._1)
        .mapGroups { (flag, rows) =>
          var n = 0L; var maxQ = Double.MinValue
          rows.foreach { r => n += 1; if (r._2 > maxQ) maxQ = r._2 }
          (flag, n, maxQ)
        }
        .toDF("l_returnflag", "n", "max_qty")
        .orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag, COUNT(*) AS n, MAX(l_quantity) AS max_qty
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Semi-structured: JSON property extraction from the events props
    // column (schema-on-read with get_json_object).
    Q("o36_json_extract", (s, d) =>
      t(s, d, "events")
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
          max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  COUNT(*) AS n,
             |  MAX(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // JSON sink + source roundtrip (schema-on-read back in).
    Q("o38_json_roundtrip", (s, d) => {
      val tmp = "/root/repo/target/graft-tmp/json_roundtrip"
      t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").json(tmp)
      s.read
        .schema("o_orderkey bigint, o_orderpriority string, o_totalprice double")
        .json(tmp)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ORC sink + source roundtrip.
    Q("o39_orc_roundtrip", (s, d) => {
      val tmp = "/root/repo/target/graft-tmp/orc_roundtrip"
      t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Spark 4 VariantType path for semi-structured data: parse once
    // into a variant, extract typed fields (vs o36's per-path string
    // extraction).
    Q("o40_variant_extract", (s, d) =>
      t(s, d, "events")
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", variant_get(col("v"), "$.k", "long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  MIN(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS min_k,
             |  MAX(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Deterministic collected aggregation: sorted distinct set joined
    // to a string (collect_list alone is order-nondeterministic).
    Q("o41_collect_sorted", (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
          array_join(array_sort(collect_set(pmod(col("l_partkey"), lit(7)))), ",")
            .as("mod7_set"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
             |  array_to_string(list_sort(list(DISTINCT l_partkey % 7)), ',') AS mod7_set
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Exact interpolated percentiles (deterministic). Two physical
    // paths by VALUE CARDINALITY: l_quantity has ~50 distinct values,
    // so `percentile()`'s per-value count map is tiny and the
    // aggregate is the right shape; l_extendedprice is
    // ~all-distinct, where the same aggregate degenerates into
    // merging millions-of-entry hash maps on the final reducers (the
    // whole 12.4 s at sf1) and a per-group full sort is 3 tasks x 2M
    // rows (~9 s) — its p99 instead fetches the two order statistics
    // by bucketed selection (ops/Selection: count buckets, locate,
    // rank one bucket), applying Percentile's exact interpolation
    // ((hi-pos)*lo_val + (pos-lo)*hi_val, lower value when the
    // position is integral) so the result is bit-identical to the
    // aggregate's.
    Q("o42_percentiles", (s, d) => {
      val li = t(s, d, "lineitem")
      // one aggregate pass serves the quantity percentiles AND the
      // price order-statistic positions
      // feeds stats/ranks/p99 AND the final select
      val qtyP = Materialize(li.groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          count(col("l_extendedprice")).as("n"),
          // the per-group price range rides this same pass, so the
          // bucketed selection below skips its own min/max scan of
          // lineitem (4 full scans -> 3; guide §2.3 "aggregate before
          // you shuffle" applied to the operator's setup pass)
          min(col("l_extendedprice")).cast("double").as("_lo"),
          max(col("l_extendedprice")).cast("double").as("_hi")))
      val stats = qtyP.select(col("l_returnflag"), col("n"))
        .withColumn("pos", lit(0.99) * (col("n") - 1).cast("double"))
        .withColumn("lo", floor(col("pos")).cast("long"))
        .withColumn("hi", ceil(col("pos")).cast("long"))
      // the two order statistics come from bucketed selection
      // (ops/Selection): per-group bucket counts + one tiny in-bucket
      // rank, instead of a per-group full sort (3 tasks x 2M rows)
      val ranks = stats.select(col("l_returnflag"),
        explode(array(col("lo"), col("hi"))).as("rank")).distinct()
      val os = graft.ops.Selection.orderStatistics(
        li.select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", ranks,
        statsNarrow = Some(qtyP.select("l_returnflag", "_lo", "_hi")))
      val p99 = os.join(broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag", "pos", "lo", "hi")
        .agg(min(when(col("rank") === col("lo"), col("value")))
          .as("lv"),
          min(when(col("rank") === col("hi"), col("value")))
            .as("hv"))
        .select(col("l_returnflag"),
          round(when(col("lo") === col("hi"), col("lv").cast("double"))
            .otherwise(
              (col("hi").cast("double") - col("pos")) *
                col("lv").cast("double") +
                (col("pos") - col("lo").cast("double")) *
                  col("hv").cast("double")), 6).as("price_p99"))
      qtyP.select("l_returnflag", "p50", "p90").join(p99, "l_returnflag")
        .select("l_returnflag", "p50", "p90", "price_p99")
        .orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
             |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
             |  round(quantile_cont(l_extendedprice, 0.99), 6) AS price_p99
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Set operations: INTERSECT / EXCEPT (distinct semantics).
    Q("o43_set_ops", (s, d) => {
      val li = t(s, d, "lineitem")
      val returned = li.filter(col("l_returnflag") === "R")
        .select("l_partkey").distinct()
      val kept = li.filter(col("l_returnflag") === "N")
        .select("l_partkey").distinct()
      val both = returned.intersect(kept)
        .withColumn("set_op", lit("both"))
      val onlyReturned = returned.except(kept)
        .withColumn("set_op", lit("only_returned"))
      both.unionByName(onlyReturned)
        .orderBy("set_op", "l_partkey")
    },
      Some("""SELECT l_partkey, 'both' AS set_op FROM (
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='R'
             |  INTERSECT
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='N')
             |UNION ALL
             |SELECT l_partkey, 'only_returned' AS set_op FROM (
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='R'
             |  EXCEPT
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='N')
             |ORDER BY set_op, l_partkey""".stripMargin)),

    // Null semantics: null-safe equality (<=> / IS NOT DISTINCT FROM)
    // over a derived nullable column.
    Q("o44_null_safe_eq", (s, d) => {
      val o = t(s, d, "orders")
        .withColumn("clerkish",
          when(col("o_orderstatus") === "P", lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
      o.groupBy("o_orderpriority")
        .agg(
          sum(when(col("clerkish") <=> lit(null), 1).otherwise(0)).as("n_null"),
          sum(when(col("clerkish") <=> lit("F"), 1).otherwise(0)).as("n_f"))
        .orderBy("o_orderpriority")
    },
      Some("""WITH o AS (
             |  SELECT o_orderpriority,
             |    CASE WHEN o_orderstatus = 'P' THEN NULL
             |         ELSE o_orderstatus END AS clerkish
             |  FROM orders)
             |SELECT o_orderpriority,
             |  CAST(SUM(CASE WHEN clerkish IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  CAST(SUM(CASE WHEN clerkish IS NOT DISTINCT FROM 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
             |FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Approximate distinct (HLL) next to the exact count — the 100 TB
    // path for O20-class queries (sketches differ per engine, so the
    // oracle checks only the exact column; the test suite bounds the
    // sketch's relative error).
    Q("o37_approx_distinct", (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_nd"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_nd
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // CUBE with grouping_id: all four grouping sets in one Expand +
    // aggregation pass. gid leads the sort so every null in a group
    // column is a subtotal row inside its own gid block — null
    // ordering can't differ between engines within a block (a column
    // is either all-null or never-null there).
    Q("o45_cube_grouping", (s, d) =>
      // cents are extracted ONCE per input row, BELOW the cube's
      // Expand: the 4x grouping-set expansion then carries a long and
      // each buffer update is a codegen long add (Exact.dsumOfCents —
      // bit-identical to dsum, overflow-loud under ANSI; bound in the
      // scaladoc). The dsum form re-cast double->decimal per EXPANDED
      // row and paid a checked Decimal add per grouping set.
      t(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          graft.ops.Exact.centsOf(col("o_totalprice")).as("_cents"))
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          graft.ops.Exact.dsumOfCents(col("_cents")).as("spend"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "spend")
        .orderBy(col("gid"), asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spend
             |FROM orders
             |GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS FIRST,
             |  o_orderpriority NULLS FIRST""".stripMargin)),

    // Ranking/distribution window breadth (ntile, percent_rank,
    // cume_dist, lead, first_value) in ONE window pass — all five
    // derive from the same (partition, order) spec, so Catalyst plans
    // a single exchange + sort. Order is totally determined by the
    // unique (price, orderkey, linenumber) tiebreak; the float ranks
    // are exact int ratios rounded to 6 on both sides.
    Q("o46_window_breadth", (s, d) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"))
      t(s, d, "lineitem").filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          ntile(4).over(w).as("quartile"),
          // raw rank ratios — (rank-1)/(n-1) and rank/n are divisions
          // of exact ints, bit-identical across engines; round-6 would
          // reintroduce the 1e-6-boundary hazard (see b23/d04 notes)
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          lead(col("l_quantity"), 1).over(w).as("next_qty"),
          first(col("l_orderkey")).over(w).as("first_ok"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag,
             |  NTILE(4) OVER w AS quartile,
             |  PERCENT_RANK() OVER w AS pr,
             |  CUME_DIST() OVER w AS cd,
             |  LEAD(l_quantity, 1) OVER w AS next_qty,
             |  FIRST_VALUE(l_orderkey) OVER w AS first_ok
             |FROM lineitem WHERE l_orderkey < 500
             |WINDOW w AS (PARTITION BY l_returnflag
             |  ORDER BY l_extendedprice, l_orderkey, l_linenumber)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Salted skew join behind the oracle gate: the salt spreads a hot
    // key over saltFactor reducers but the RESULT is identical to the
    // plain join — which is exactly what the oracle checks (the salt
    // hash never reaches the output).
    Q("o47_salted_join", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey"), col("l_quantity"))
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.Partitioned.saltedJoin(li, sup, "l_suppkey",
          col("l_orderkey") * 8 + col("l_linenumber"), saltFactor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy("s_nationkey")
    },
      Some("""SELECT s_nationkey, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // Multiplicity-preserving set ops (EXCEPT ALL / INTERSECT ALL) —
    // bag semantics: a part returned 3x and kept 1x survives exceptAll
    // twice. Aggregated to (key, multiplicity) for a stable compare.
    Q("o48_set_ops_all", (s, d) => {
      val li = t(s, d, "lineitem")
      val r = li.filter(col("l_returnflag") === "R").select("l_partkey")
      val n = li.filter(col("l_returnflag") === "N").select("l_partkey")
      val exc = r.exceptAll(n).groupBy("l_partkey")
        .agg(count(lit(1)).as("mult")).withColumn("set_op", lit("except_all"))
      val inter = r.intersectAll(n).groupBy("l_partkey")
        .agg(count(lit(1)).as("mult")).withColumn("set_op", lit("intersect_all"))
      exc.unionByName(inter).orderBy("set_op", "l_partkey")
    },
      Some("""SELECT l_partkey, COUNT(*) AS mult, 'except_all' AS set_op FROM (
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='R'
             |  EXCEPT ALL
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='N')
             |GROUP BY l_partkey
             |UNION ALL
             |SELECT l_partkey, COUNT(*) AS mult, 'intersect_all' AS set_op FROM (
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='R'
             |  INTERSECT ALL
             |  SELECT l_partkey FROM lineitem WHERE l_returnflag='N')
             |GROUP BY l_partkey
             |ORDER BY set_op, l_partkey""".stripMargin)),

    // Calendar arithmetic breadth: month truncation, month-end,
    // add_months, day arithmetic — all on DATE (integer-exact).
    Q("o49_date_funcs", (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderkey") < 200)
        .withColumn("dt", col("o_orderdate").cast("date"))
        .select(col("o_orderkey"),
          col("dt").cast("string").as("order_date"),
          trunc(col("dt"), "month").cast("string").as("month_start"),
          last_day(col("dt")).cast("string").as("month_end"),
          add_months(col("dt"), 3).cast("string").as("plus_3m"),
          date_add(col("dt"), 45).cast("string").as("plus_45d"),
          dayofweek(col("dt")).as("dow"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
             |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_start,
             |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
             |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus_3m,
             |  CAST(CAST(o_orderdate AS DATE) + 45 AS VARCHAR) AS plus_45d,
             |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow
             |FROM orders WHERE o_orderkey < 200
             |ORDER BY o_orderkey""".stripMargin)),

    // Time-series gap-fill + LOCF: build the dense month spine with
    // sequence()/explode (no generator UDF, no driver loop), left-join
    // the sparse actuals, and carry the last observation forward with
    // an ignoreNulls last() window — the standard resample operator
    // for feature pipelines. All month indexes are exact ints; sums
    // go through decimal.
    Q("o51_gap_fill", (s, d) => {
      val li = t(s, d, "lineitem").filter(col("l_partkey") < 15)
        .withColumn("m",
          (year(col("l_shipdate").cast("date")) - 1992) * 12 +
            month(col("l_shipdate").cast("date")) - 1)
      val actual = li.groupBy("l_partkey", "m")
        .agg(dsum(col("l_quantity")).as("qty"))
      val bounds = li.groupBy("l_partkey")
        .agg(min("m").as("m0"), max("m").as("m1"))
      val spine = bounds.select(col("l_partkey"),
        explode(sequence(col("m0"), col("m1"))).as("m"))
      val w = Window.partitionBy("l_partkey").orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(actual, Seq("l_partkey", "m"), "left_outer")
        .select(col("l_partkey"), col("m"),
          coalesce(col("qty"), lit(0.0)).as("qty_month"),
          last(col("qty"), ignoreNulls = true).over(w).as("qty_locf"))
        .orderBy("l_partkey", "m")
    },
      Some("""WITH li AS (
             |  SELECT l_partkey,
             |    (year(CAST(l_shipdate AS DATE)) - 1992) * 12
             |      + month(CAST(l_shipdate AS DATE)) - 1 AS m,
             |    l_quantity
             |  FROM lineitem WHERE l_partkey < 15),
             |actual AS (
             |  SELECT l_partkey, m,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
             |  FROM li GROUP BY 1, 2),
             |bounds AS (
             |  SELECT l_partkey, MIN(m) AS m0, MAX(m) AS m1
             |  FROM li GROUP BY 1),
             |spine AS (
             |  SELECT l_partkey, CAST(g.m AS INT) AS m
             |  FROM bounds, unnest(generate_series(m0, m1)) AS g(m))
             |SELECT s.l_partkey, s.m,
             |  COALESCE(a.qty, 0.0) AS qty_month,
             |  last_value(a.qty IGNORE NULLS) OVER (
             |    PARTITION BY s.l_partkey ORDER BY s.m
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS qty_locf
             |FROM spine s LEFT JOIN actual a
             |  ON s.l_partkey = a.l_partkey AND s.m = a.m
             |ORDER BY s.l_partkey, s.m""".stripMargin)),

    // RANGE-frame window: trailing-7-day revenue per supplier — the
    // frame is bounded by the ORDER value (day number), not row
    // position, so sparse days weight correctly. Pre-aggregate per
    // day first: the window then slides over |supplier x day| rows,
    // not |lineitem| rows.
    Q("o52_range_frame", (s, d) => {
      // the window SUM stays in DECIMAL (order-independent) — a
      // double window sum could associate differently across engines
      val daily = t(s, d, "lineitem").filter(col("l_suppkey") < 10)
        .withColumn("daynum",
          datediff(col("l_shipdate").cast("date"),
            lit("1992-01-01").cast("date")))
        .groupBy("l_suppkey", "daynum")
        .agg(dsumDec(col("l_quantity")).as("dq"))
      val w = Window.partitionBy("l_suppkey").orderBy("daynum")
        .rangeBetween(-6, 0)
      daily.select(col("l_suppkey"), col("daynum"),
          col("dq").cast("double").as("day_qty"),
          sum(col("dq")).over(w).cast("double").as("qty_7d"))
        .orderBy("l_suppkey", "daynum")
    },
      Some("""WITH daily AS (
             |  SELECT l_suppkey,
             |    CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS daynum,
             |    SUM(CAST(l_quantity AS DECIMAL(14,2))) AS dq
             |  FROM lineitem WHERE l_suppkey < 10
             |  GROUP BY 1, 2)
             |SELECT l_suppkey, daynum,
             |  CAST(dq AS DOUBLE) AS day_qty,
             |  CAST(SUM(dq) OVER (PARTITION BY l_suppkey ORDER BY daynum
             |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    AS qty_7d
             |FROM daily
             |ORDER BY l_suppkey, daynum""".stripMargin)),

    // MERGE/upsert as a declarative full-outer join: apply a change
    // set to a base snapshot — update matched keys, insert new ones,
    // keep the rest — with per-row provenance. The engine-native form
    // of the warehouse MERGE INTO (no table format required); one
    // shuffle on the key for both sides.
    Q("o53_upsert", (s, d) => {
      val o = t(s, d, "orders")
      val base = o.filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_totalprice").as("price_base"))
      val changes = o.filter(col("o_orderkey") >= 500 &&
          col("o_orderkey") < 1500)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("price_chg"))
      base.join(changes, Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("price_chg"), col("price_base")).as("price"),
          when(col("price_chg").isNotNull && col("price_base").isNotNull,
            "updated")
            .when(col("price_chg").isNotNull, "inserted")
            .otherwise("unchanged").as("status"))
        .orderBy("o_orderkey")
    },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_totalprice AS price_base
             |  FROM orders WHERE o_orderkey < 1000),
             |chg AS (
             |  SELECT o_orderkey, o_totalprice + 1000.0 AS price_chg
             |  FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500)
             |SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
             |  COALESCE(price_chg, price_base) AS price,
             |  CASE WHEN price_chg IS NOT NULL AND price_base IS NOT NULL
             |         THEN 'updated'
             |       WHEN price_chg IS NOT NULL THEN 'inserted'
             |       ELSE 'unchanged' END AS status
             |FROM base b FULL OUTER JOIN chg c USING (o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // SCD2 interval build: per-user event-type history as half-open
    // validity ranges [ts, next_ts) via lead() — one window over one
    // exchange, nanosecond-exact integers; the open row carries NULL.
    Q("o54_scd2", (s, d) => {
      // micros, not raw nanos: DuckDB timestamps are micro-precision,
      // and the WINDOW ORDER must use the truncated value too — two
      // events in the same microsecond would otherwise sequence by
      // nanos here but by event_id in the oracle
      val ev = t(s, d, "events").filter(col("user_id") < 50)
        .withColumn("tsu", expr("ts div 1000"))
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      ev.select(col("user_id"), col("event_type"),
          col("tsu").as("valid_from_us"),
          lead(col("tsu"), 1).over(w).as("valid_to_us"))
        .orderBy("user_id", "valid_from_us", "event_type")
    },
      Some("""SELECT user_id, event_type,
             |  epoch_us(ts) AS valid_from_us,
             |  LEAD(epoch_us(ts), 1) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
             |    AS valid_to_us
             |FROM events WHERE user_id < 50
             |ORDER BY user_id, valid_from_us, event_type""".stripMargin)),

    // Incremental aggregate maintenance: a standing per-customer
    // aggregate is refreshed by merging the OLD partial state with an
    // aggregate of only the DELTA rows — union + re-aggregate of
    // partial (count, decimal-sum) states, never rescanning the base
    // fact. count/sum/min/max states merge exactly; that mergeability
    // is what makes a 100 TB nightly pipeline incremental (the same
    // algebra Spark itself uses for partial->final HashAggregate).
    // The oracle recomputes from scratch — results must be identical.
    Q("o55_incremental_agg", (s, d) => {
      val o = t(s, d, "orders")
      def partial(df: DataFrame): DataFrame = df.groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          dsumDec(col("o_totalprice")).as("total_dec"))
      val base = partial(o.filter(col("o_orderdate") < "1997-01-01"))
      val delta = partial(o.filter(col("o_orderdate") >= "1997-01-01"))
      base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(sum("n").as("n"),
          sum("total_dec").cast("double").as("total"))
        .orderBy("o_custkey")
    },
      Some("""SELECT o_custkey, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Z-order (Morton) data-skipping layout: orders re-laid-out by
    // the bit-interleaved (o_custkey, day) key, so each parquet file
    // covers a small rectangle of the 2-D key space and footer
    // min/max stats prune rectangle queries on either dimension
    // (PartitionedSpec measures candidate-file reduction vs a linear
    // sort). The layout is semantically invisible — the oracle runs
    // the identical rectangle on the original table.
    Q("o56_zorder_prune", (s, d) => {
      val tmp = "/root/repo/target/graft-tmp/zorder_orders"
      val o = t(s, d, "orders").withColumn("day",
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
      graft.ops.Partitioned.zorderWrite(o, tmp,
        col("o_custkey"), col("day"), nFiles = 16)
      s.read.parquet(tmp)
        .filter(col("o_custkey").between(100, 400) &&
          col("day").between(9131, 9496))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
             |FROM orders
             |WHERE o_custkey BETWEEN 100 AND 400
             |  AND CAST(o_orderdate AS DATE) - DATE '1970-01-01'
             |      BETWEEN 9131 AND 9496
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Arbitrary GROUPING SETS (beyond rollup o32 / cube o45): the
    // (flag, status), (flag), () lattice in ONE pass — Catalyst plans
    // a single Expand + aggregation, vs three scans for the union-all
    // formulation. gid disambiguates all-null data values from
    // subtotal rows (the o45 discipline).
    Q("o57_grouping_sets", (s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("qty"))
        .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |                        (l_returnflag), ())
             |ORDER BY gid, l_returnflag NULLS FIRST,
             |  l_linestatus NULLS FIRST""".stripMargin)),

    // UNPIVOT (wide->long melt): the o33 pivot's inverse — per-status
    // spend columns melted back to (priority, status, spend) rows.
    // Narrow operator (Expand, no shuffle); the long form is what
    // downstream grouped operators want at scale.
    Q("o58_unpivot", (s, d) => {
      val wide = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .na.fill(0.0, Seq("F", "O", "P"))
      wide.unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")),
          "status", "spend")
        .orderBy("o_orderpriority", "status")
    },
      Some("""WITH wide AS (
             |  SELECT o_orderpriority,
             |    COALESCE(CAST(SUM(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE), 0) AS F,
             |    COALESCE(CAST(SUM(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE), 0) AS O,
             |    COALESCE(CAST(SUM(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE), 0) AS P
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o_orderpriority, status, spend
             |FROM wide UNPIVOT (spend FOR status IN (F, O, P))
             |ORDER BY o_orderpriority, status""".stripMargin)),

    // Schema evolution: two parquet batches with different schemas
    // (the second adds a column) read back as ONE table via
    // mergeSchema — the old batch surfaces NULL for the new column.
    // This is the operational reality of a 100 TB table that gained
    // a column mid-history; the oracle replays the union semantics.
    Q("o59_schema_evolution", (s, d) => {
      val tmp = "/root/repo/target/graft-tmp/schema_evo"
      val o = t(s, d, "orders")
      o.filter(col("o_orderdate") < "1995-01-01")
        .select("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$tmp/b=1")
      o.filter(col("o_orderdate") >= "1995-01-01")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/b=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY"))
          .as("priority"))
        .agg(count(lit(1)).as("n"), countDistinct("o_custkey").as("n_cust"))
        .orderBy("priority")
    },
      Some("""WITH evo AS (
             |  SELECT o_orderkey, o_custkey, NULL AS o_orderpriority
             |  FROM orders WHERE o_orderdate < '1995-01-01'
             |  UNION ALL
             |  SELECT o_orderkey, o_custkey, o_orderpriority
             |  FROM orders WHERE o_orderdate >= '1995-01-01')
             |SELECT COALESCE(o_orderpriority, 'LEGACY') AS priority,
             |  COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust
             |FROM evo GROUP BY 1 ORDER BY priority""".stripMargin)),

    // Custom DataSource V2 (graft.sources.SyntheticSource): rows are
    // generated partition-locally on executors with pushed-down
    // column pruning — the non-file-source axis (bus/API/KV) of the
    // source surface. Content derives from the portable hash, so the
    // oracle regenerates the identical table from generate_series.
    Q("o60_custom_source", (s, d) =>
      s.read.format("graft.sources.SyntheticSource")
        .option("rows", 100000).option("slices", 8).load()
        .groupBy("category")
        .agg(count(lit(1)).as("n"),
          countDistinct("user_id").as("n_users"),
          sum("amount_cents").as("total_cents"))
        .orderBy("category"),
      Some("""WITH src AS (
             |  SELECT i AS id,
             |    CAST('0x' || substr(md5('e|' || i),1,15) AS BIGINT) % 100
             |      AS user_id,
             |    CAST('0x' || substr(md5('e|' || i),1,15) AS BIGINT) % 10000
             |      AS amount_cents,
             |    'c' || (CAST('0x' || substr(md5('e|' || i),1,15) AS BIGINT) % 7)
             |      AS category
             |  FROM generate_series(0, 99999) AS t(i))
             |SELECT category, COUNT(*) AS n,
             |  COUNT(DISTINCT user_id) AS n_users,
             |  CAST(SUM(amount_cents) AS BIGINT) AS total_cents
             |FROM src GROUP BY category ORDER BY category""".stripMargin)),

    // DSv2 storage partitioning: the clustered scan reports
    // KeyGroupedPartitioning(user_id) with per-partition keys
    // (HasPartitionKey), so the per-user aggregate plans WITH NO
    // EXCHANGE (v2 bucketing) — the bucketed-table contract a
    // clustered backend (KV hash ranges, bucketed warehouse table)
    // gives Spark. Exchange absence is asserted in SourcesSpec; this
    // query hash-gates the results through the same plan. v2 bucketing
    // is on in every Engine.session.
    Q("o61_clustered_source", (s, d) => {
      s.read.format("graft.sources.SyntheticSource")
        .option("rows", 100000).option("clusterByUser", "true").load()
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("amount_cents").as("total_cents"))
        .orderBy("user_id")
    },
      Some("""WITH src AS (
             |  SELECT CAST('0x' || substr(md5('e|' || i),1,15) AS BIGINT) % 100
             |      AS user_id,
             |    CAST('0x' || substr(md5('e|' || i),1,15) AS BIGINT) % 10000
             |      AS amount_cents
             |  FROM generate_series(0, 99999) AS t(i))
             |SELECT user_id, COUNT(*) AS n,
             |  CAST(SUM(amount_cents) AS BIGINT) AS total_cents
             |FROM src GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Recursive CTE (Spark 4 surface): ancestor-chain walk of the
    // part-key decimal hierarchy (each key's parent = key div 10 — a
    // BOM-explosion / org-chart shape). Iteration depth is bounded by
    // the key width; each round is one self-union the engine executes
    // as an incremental loop. The SQL text is engine-portable, so the
    // oracle runs it verbatim.
    Q("o63_recursive_cte", (s, d) => {
      Tables.registerAll(s, d)
      // The recursion ROW limit is Spark's runaway-safety valve, not
      // a resource bound: this walk's depth is bounded by the key
      // width (<= 9 levels of div-10) and each level is one narrow
      // incremental frame, so total rows are ~depth x |part| — linear
      // in the table. The 1M default trips on bigger-than-driver
      // corpora (first seen at the sf3 slope point: 600k parts x ~6
      // levels). The raise stays a REAL valve: sized to this table's
      // worst case (depth x rows, with slack) instead of disabled —
      // the conf is session-scoped and the query plans lazily (the
      // o61 precedent: a scoped restore would re-arm the old limit
      // before execution), so an Int.MaxValue raise here would strip
      // runaway protection from every later recursive CTE too.
      val partRows = Tables.load(s, d, "part").count()
      val valve = math.min(math.max(1000000L, partRows * 12L),
        Int.MaxValue.toLong)
      s.conf.set("spark.sql.cteRecursionRowLimit", valve.toString)
      s.sql(RecursiveAncSql)
    },
      Some(RecursiveAncSql))
  )
}
