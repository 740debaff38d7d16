package graft.bdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Distributed synthetic generator for the 23-table TPCx-BB data
  * model, at an arbitrary scale factor — the stand-in for the
  * benchmark's external dataGen tool (whose pipe-CSV output format
  * and table layout this mirrors; `gpu_bdb_load_test.py:47-92` reads
  * each `<base>/<table>/` dir with sep '|' and no quoting).
  *
  * This is the single source of truth for the synthetic data's shape:
  * the test fixture ([[graft.BdbFixture]] — `BdbFixture.frames` =
  * `frames(spark, Counts(0))`) is these same tables at the floor
  * cardinalities, so the goldens verify exactly the shapes the scale
  * benchmark runs. Generation is DISTRIBUTED (spark.range + column
  * expressions, no driver-side row lists) and scaled: at sf=1 fact
  * rows match TPC-DS sf1 orders of magnitude (store_sales 2.88M,
  * web_clickstreams 6.48M, inventory 1.17M, ...), ~1 GB of pipe-CSV.
  *
  * Density invariants (the structures the hardest queries exercise,
  * asserted non-degenerate by SessionizeSpec's density gates):
  *  - clickstream sessions have 3–6 events 300 s apart, ending in a
  *    purchase tied to a real web order (q02/q03/q04/q08/q30);
  *  - store tickets and web orders are 4-line baskets sharing
  *    date/store/customer, with a recurring hot item pair
  *    (q01's >50-count pairs) plus stride-13 long-tail items;
  *  - returns mirror a real sale line 30 days later (q21's
  *    sale→return→web-rebuy chain joins on identical key formulas).
  * Keys are uniform (no skew) by default — a deliberate
  * simplification vs the TPC dataGen's skewed draws; documented in
  * bench/bdb/BDB_BENCH.md. `clickSkew > 1` opts the CLICKSTREAM's
  * user assignment into a power-law draw (the hot-key path the
  * reference hand-repartitions for, `q02_dask_sql.py:46`): burst b's
  * user is `floor(customers * u^clickSkew)` for a hash-decorrelated
  * uniform u, so user 1 absorbs ~(1/customers)^(1/clickSkew) of all
  * bursts (clickSkew=3 at sf1: ~2% of 1.08M bursts ≈ 100k clicks on
  * one key vs ~10 uniform). Same-day bursts of a hot user merge into
  * long sessions — the structure AQE's skew-split has to absorb in
  * the session/pair queries. Goldens and every fixture path use the
  * default 1.0 (uniform, bit-identical to before the option).
  *
  * Usage: BdbDataGen <csvOutBase> <scaleFactor> [clickSkew]
  */
object BdbDataGen {

  /** Scaled table cardinalities. Dims with query-parameter value
    * domains derived via `% smallConstant` (category, brand, state,
    * page type, ...) keep those constants fixed — scaling row counts
    * never shifts the value domains the 30 queries filter on.
    *
    * `floorMult` scales the FLOOR cardinalities uniformly (every
    * table, same factor) without moving the sf-driven bases — the
    * knob the second-scale oracle fixture uses (BdbOracleDump):
    * `Counts(0, m)` is the goldens' floor dataset at exactly m× rows
    * per table, with the generator's density structures (sessions,
    * baskets, hot pairs, return chains) intact because they derive
    * from row ids, not cardinalities. Default 1 = bit-identical to
    * the historical fixture.
    */
  final case class Counts(sf: Double, floorMult: Long = 1) {
    require(floorMult >= 1, s"floorMult must be >= 1, got $floorMult")
    private def n(base: Long, floor: Long): Long =
      math.max(floor * floorMult, (base * sf).toLong)
    val items: Long = n(18000, 60)
    val customers: Long = n(100000, 40)
    val demos: Long = n(19200, 20)
    val hds: Long = n(7200, 10)
    val addrs: Long = n(50000, 30)
    val stores: Long = n(100, 10)
    val warehouses: Long = n(20, 5)
    val webPages: Long = n(2000, 20)
    val promos: Long = n(300, 10)
    val webSites: Long = n(12, 3)
    val storeSales: Long = n(2880000, 1200)
    val storeReturns: Long = n(288000, 120)
    val webSales: Long = n(720000, 400)
    val webReturns: Long = n(72000, 100)
    val clicks: Long = n(6480000, 600)
    val inventory: Long = n(1170000, 500)
    val reviews: Long = n(120000, 100)
  }

  private val categories = Seq("Books", "Electronics", "Home", "Sports", "Toys")
  private val states =
    Seq("KY", "GA", "NM", "MT", "OR", "IN", "WI", "MO", "WV", "CA")
  private val pageTypes = Seq("order", "dynamic", "review", "ad", "general")
  private val education =
    Seq("4 yr Degree", "College", "Advanced Degree", "Unknown")
  private val reviewTexts = Seq(
    "This product is good. StoreOne sold it fast!",
    "Terrible quality, really bad. Never again from StoreTwo.",
    "It was great and the Acme Corp support was excellent.",
    "Average item. Nothing special here?",
    "I love it! Best purchase ever from MegaMart.")

  private def strArr(vs: Seq[String]): String =
    vs.map(v => s"'$v'").mkString("array(", ", ", ")")

  /** element_at over a literal string array by `id % n` (1-based). */
  private def pick(vs: Seq[String], idx: String): String =
    s"element_at(${strArr(vs)}, CAST($idx AS INT) + 1)"

  private def d2(v: String): String = s"CAST($v AS DECIMAL(7,2))"

  /** Sale-line item for row `off` (0–3) of basket/order `t0`.
    *
    * Positions 0–1 draw a "frequently bought together" pair from a
    * 29-template hot pool (items 1–58, consecutive ids so both sides
    * share a brand-adjacent category mix): the same pair recurs every
    * 29 baskets, so q01's pair counts clear its >50 threshold at any
    * scale where tickets/29 per filter store does. 29 is coprime to
    * the store count (10/100) — every template reaches every store.
    * Positions 2–3 are long-tail rows with a stride-13 walk over the
    * FULL item space (13 is coprime to every items cardinality this
    * generator emits), so item-probe queries (q24/q27-style) find any
    * item and category aggregates see the whole catalog.
    */
  private def saleItemExpr(t0: String, off: String, items: Long): String =
    s"""CASE ($off)
       |  WHEN 0 THEN (($t0 % 29) * 2) % $items + 1
       |  WHEN 1 THEN (($t0 % 29) * 2 + 1) % $items + 1
       |  WHEN 2 THEN ($t0 * 13 + 15838) % $items + 1
       |  ELSE ($t0 * 13 + 23757) % $items + 1
       |END""".stripMargin.replace("\n", " ")

  def frames(spark: SparkSession, c: Counts,
      clickSkew: Double = 1.0): Map[String, DataFrame] = {
    def gen(table: String, n: Long, exprs: Seq[String],
        parts: Int): (String, DataFrame) = {
      val schema = BdbSchemas.schema(table)
      val named = exprs.zip(schema.fields).map { case (e, f) =>
        s"($e) AS ${f.name}"
      }
      require(exprs.length == schema.fields.length,
        s"$table: ${exprs.length} exprs vs ${schema.fields.length} fields")
      val df = spark.range(0, n, 1, parts).selectExpr(named: _*)
        .select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      table -> df
    }
    val dimParts = 1
    val factParts = 32

    val dateDim = gen("date_dim", 1500, Seq(
      "id", "printf('D%06d', id)",
      "date_format(date_add(DATE'2001-01-01', CAST(id AS INT)), 'yyyy-MM-dd')",
      "(year(date_add(DATE'2001-01-01', CAST(id AS INT))) - 2001) * 12 + month(date_add(DATE'2001-01-01', CAST(id AS INT)))",
      "id div 7", "0",
      "year(date_add(DATE'2001-01-01', CAST(id AS INT)))",
      "dayofweek(date_add(DATE'2001-01-01', CAST(id AS INT)))",
      "month(date_add(DATE'2001-01-01', CAST(id AS INT)))",
      "day(date_add(DATE'2001-01-01', CAST(id AS INT)))",
      "quarter(date_add(DATE'2001-01-01', CAST(id AS INT)))",
      "year(date_add(DATE'2001-01-01', CAST(id AS INT)))",
      "0", "0",
      "date_format(date_add(DATE'2001-01-01', CAST(id AS INT)), 'EEEE')",
      "concat('Q', quarter(date_add(DATE'2001-01-01', CAST(id AS INT))))",
      "'N'",
      "CASE WHEN dayofweek(date_add(DATE'2001-01-01', CAST(id AS INT))) IN (1, 7) THEN 'Y' ELSE 'N' END",
      "'N'", "1", "28", "id", "id", "'N'", "'N'", "'N'", "'N'", "'N'"),
      dimParts)

    val item = gen("item", c.items, Seq(
      "id + 1", "printf('I%06d', id + 1)", "'2001-01-01'", "NULL",
      "concat('Item desc ', id + 1)",
      d2("0.9 + ((id + 1) % 40) * 0.05"), d2("0.5"),
      "(id + 1) % 10", "concat('brand', (id + 1) % 10)",
      "(id + 1) % 15 + 1", "concat('class', (id + 1) % 15)",
      "(id + 1) % 5 + 1", pick(categories, "(id + 1) % 5"),
      "(id + 1) % 7", "concat('manu', (id + 1) % 7)", "'M'", "NULL",
      "'red'", "'ea'", "'box'", "(id + 1) % 3",
      "concat('product', id + 1)"), dimParts)

    val customer = gen("customer", c.customers, Seq(
      "id + 1", "printf('C%06d', id + 1)",
      s"(id + 1) % ${c.demos} + 1", s"(id + 1) % ${c.hds} + 1",
      s"(id + 1) % ${c.addrs} + 1", "1", "1", "'Mr.'",
      "concat('First', id + 1)", "concat('Last', id + 1)",
      "CASE WHEN (id + 1) % 2 = 0 THEN 'Y' ELSE 'N' END",
      "(id + 1) % 28 + 1", "(id + 1) % 12 + 1", "1950 + (id + 1) % 50",
      "'United States'", "NULL",
      "concat('c', id + 1, '@example.com')", "'2001-01-01'"), dimParts)

    val demo = gen("customer_demographics", c.demos, Seq(
      "id + 1", "CASE WHEN (id + 1) % 2 = 0 THEN 'M' ELSE 'F' END",
      "CASE WHEN (id + 1) % 3 = 0 THEN 'S' ELSE 'M' END",
      pick(education, "(id + 1) % 4"), "((id + 1) % 10) * 500", "'Good'",
      "(id + 1) % 6", "(id + 1) % 3", "(id + 1) % 2"), dimParts)

    val hd = gen("household_demographics", c.hds, Seq(
      "id + 1", "(id + 1) % 3 + 1", "'5001-10000'", "(id + 1) % 8",
      "(id + 1) % 4"), dimParts)

    val addr = gen("customer_address", c.addrs, Seq(
      "id + 1", "printf('A%06d', id + 1)", "CAST(id + 1 AS STRING)",
      "'Main'", "'St'", "NULL", "'Springfield'", "'County'",
      pick(states, "(id + 1) % 10"), "'12345'", "'United States'",
      "CAST(-5.0 AS DECIMAL(5,2))", "'condo'"), dimParts)

    val store = gen("store", c.stores, Seq(
      "id + 1", "printf('S%06d', id + 1)", "'2001-01-01'", "NULL", "NULL",
      "concat('store', id + 1)", "10", "1000", "'9-5'",
      "concat('Mgr', id + 1)", "(id + 1) % 3", "'class'", "'desc'", "'mm'",
      "1", "'div'", "1", "'co'", "CAST(id + 1 AS STRING)", "'Market'",
      "'St'", "NULL", "'Springfield'", "'County'",
      pick(states, "(id + 1) % 10"), "'12345'", "'United States'",
      "CAST(-5.0 AS DECIMAL(5,2))", "CAST(0.08 AS DECIMAL(5,2))"), dimParts)

    val warehouse = gen("warehouse", c.warehouses, Seq(
      "id + 1", "printf('W%06d', id + 1)",
      "concat('Warehouse ', id + 1)", "5000", "CAST(id + 1 AS STRING)",
      "'Dock'", "'Rd'", "NULL", "'Springfield'", "'County'",
      pick(states, "(id + 1) % 10"), "'12345'", "'United States'",
      "CAST(-5.0 AS DECIMAL(5,2))"), dimParts)

    val webPage = gen("web_page", c.webPages, Seq(
      "id + 1", "printf('WP%06d', id + 1)", "'2001-01-01'", "NULL", "1",
      "1", "'N'", "NULL", "concat('http://example.com/', id + 1)",
      pick(pageTypes, "(id + 1) % 5"), "4500 + ((id + 1) % 10) * 200",
      "(id + 1) % 10", "(id + 1) % 5", "2"), dimParts)

    val promo = gen("promotion", c.promos, Seq(
      "id + 1", "printf('P%06d', id + 1)", "1", "100",
      s"(id + 1) % ${c.items} + 1", "CAST(1000 AS DECIMAL(15,2))", "1",
      "concat('promo', id + 1)",
      "CASE WHEN (id + 1) % 2 = 0 THEN 'Y' ELSE 'N' END",
      "CASE WHEN (id + 1) % 3 = 0 THEN 'Y' ELSE 'N' END", "'N'",
      "CASE WHEN (id + 1) % 4 = 0 THEN 'Y' ELSE 'N' END",
      "'N'", "'N'", "'N'", "'N'", "NULL", "'sale'", "'Y'"), dimParts)

    val timeDim = gen("time_dim", 144, Seq(
      "id", "printf('T%06d', id)", "CAST(id * 600 AS INT)",
      "CAST(id * 600 div 3600 AS INT)",
      "CAST((id * 600 % 3600) div 60 AS INT)", "0",
      "CASE WHEN id * 600 < 43200 THEN 'AM' ELSE 'PM' END",
      "'shift'", "'sub'", "'meal'"), dimParts)

    // --- store channel: 4-line tickets -------------------------------
    // One ticket = 4 consecutive rows sharing ticket/date/store/
    // customer (a real basket: q01's pair stage and q21's
    // sale↔return↔rebuy chain need ≥2 co-located lines). Ticket date
    // walks the 1460-day calendar with stride 13 (coprime → full
    // coverage once tickets ≥ 1460, and the fixture's 100 tickets
    // still reach every query-parameter year).
    val ssT0 = "(id div 4)"
    val storeSales = gen("store_sales", c.storeSales, Seq(
      s"($ssT0 * 11 + 7) % 1460", "id % 144",
      saleItemExpr(ssT0, "id % 4", c.items),
      s"$ssT0 % ${c.customers} + 1",
      s"id % ${c.demos} + 1", s"id % ${c.hds} + 1",
      s"id % ${c.addrs} + 1", s"$ssT0 % ${c.stores} + 1",
      s"id % ${c.promos} + 1", s"$ssT0 + 1", "id % 5 + 1",
      d2("10"), d2("20"), d2("100 + (id % 120)"), d2("1"), d2("110"),
      d2("10"), d2("120"), d2("8"), d2("2"), d2("110 + (id % 120)"),
      d2("118"), d2("50 + (id % 3000)")), factParts)

    // Return i mirrors sale line j = i*stride: identical (ticket,
    // item, customer, store) formulas, returned 30 days after the
    // sale — every return matches a real sale line (q21's equi-join).
    // Stride is odd-ized so j walks all 4 line positions of a ticket,
    // and quantities are ticket-keyed so the store and web return of
    // the same sale week agree in magnitude (q19's ±10% band).
    val srStride = math.max(1L, c.storeSales / c.storeReturns) | 1L
    val srJ = s"((id * $srStride) % ${c.storeSales})"
    val srT0 = s"($srJ div 4)"
    val storeReturns = gen("store_returns", c.storeReturns, Seq(
      s"($srT0 * 11 + 37) % 1460", "id % 144",
      saleItemExpr(srT0, s"$srJ % 4", c.items),
      s"$srT0 % ${c.customers} + 1", s"id % ${c.demos} + 1",
      s"id % ${c.hds} + 1", s"id % ${c.addrs} + 1",
      s"$srT0 % ${c.stores} + 1", "id % 3 + 1", s"$srT0 + 1",
      s"$srT0 % 3 + 1", d2("30"), d2("2"), d2("32"), d2("1"), d2("3"),
      d2("25"), d2("2"), d2("3"), d2("5")), factParts)

    // --- web channel: 4-line orders, same shapes as store ------------
    // Sharing saleItemExpr + the t0-keyed customer with store_sales
    // means a (customer, item) bought in store exists as a web order
    // for every t0 < webOrders — q21's "re-bought on the web" join has
    // real matches by construction.
    val wsT0 = "(id div 4)"
    val webSales = gen("web_sales", c.webSales, Seq(
      s"($wsT0 * 11 + 11) % 1460", "id % 144",
      s"($wsT0 * 11 + 11) % 1460 + 2",
      saleItemExpr(wsT0, "id % 4", c.items),
      s"$wsT0 % ${c.customers} + 1", s"id % ${c.demos} + 1",
      s"id % ${c.hds} + 1", s"id % ${c.addrs} + 1",
      s"$wsT0 % ${c.customers} + 1", s"id % ${c.demos} + 1",
      s"id % ${c.hds} + 1", s"id % ${c.addrs} + 1",
      s"id % ${c.webPages} + 1", s"id % ${c.webSites} + 1", "id % 5 + 1",
      s"id % ${c.warehouses} + 1", s"id % ${c.promos} + 1",
      s"$wsT0 + 1", "id % 5 + 1", d2("10"), d2("20"), d2("15"),
      d2("1"), d2("110"), d2("10"), d2("120"), d2("8"), d2("2"), d2("5"),
      d2("110 + (id % 100)"), d2("118"), d2("120"), d2("125"),
      d2("40 + (id % 2000)")), factParts)

    // Web-return date uses the +37 offset (not ws's +11+30) so the
    // store and web return of ticket t0 land in the SAME calendar
    // week — q19's balanced-returns join needs week-aligned sums.
    val wrStride = math.max(1L, c.webSales / c.webReturns) | 1L
    val wrJ = s"((id * $wrStride) % ${c.webSales})"
    val wrT0 = s"($wrJ div 4)"
    val webReturns = gen("web_returns", c.webReturns, Seq(
      s"($wrT0 * 11 + 37) % 1460", "id % 144",
      saleItemExpr(wrT0, s"$wrJ % 4", c.items),
      s"$wrT0 % ${c.customers} + 1", s"id % ${c.demos} + 1",
      s"id % ${c.hds} + 1", s"id % ${c.addrs} + 1",
      s"$wrT0 % ${c.customers} + 1", s"id % ${c.demos} + 1",
      s"id % ${c.hds} + 1", s"id % ${c.addrs} + 1",
      s"$wrJ % ${c.webPages} + 1", "id % 3 + 1", s"$wrT0 + 1",
      s"$wrT0 % 3 + 1", d2("30"), d2("2"), d2("32"), d2("1"), d2("3"),
      d2("25"), d2("2"), d2("3"), d2("5")), factParts)

    // --- clickstream: bursty multi-event sessions --------------------
    // Six consecutive rows form one burst: one user, one day, clicks
    // 300 s apart (well inside the 3600 s sessionization timeout), so
    // every session the queries build has 3–6 events. Burst length
    // varies 3..6 (trailing rows are anonymous NULL-user clicks —
    // present in real clickstreams, filtered by every session query),
    // so q04's pages-per-session average is non-trivial. The LAST
    // active click is the burst's purchase (wcs_sales_sk set, keyed to
    // a real web order): q03's lag-window sees the preceding views,
    // q08's boundary sessionization sees review→purchase chains.
    // A user's next burst lands weeks away (burst ids stride by the
    // customer count), so bursts never merge into one session.
    // Pages: two alternating pages per burst → the 5 wp_types cycle
    // across bursts (q04 gets both abandoned and completed carts;
    // only ~40% of bursts contain a review page, so q08's split has
    // both sides). Items: stride-13 walk over the catalog, except
    // every 7th user is pinned to a single category (i ≡ 2 mod 5) so
    // per-user category labels (q05) keep both classes.
    val wsOrders = math.max(1L, c.webSales / 4)
    val burst = "(id div 6)"
    val off = "(id % 6)"
    val blen = s"(3 + $burst % 4)"
    // Uniform round-robin by default; power-law when clickSkew > 1
    // (u from a Knuth-multiplier hash of the burst id, so adjacent
    // bursts decorrelate; floor(customers * u^alpha) piles the mass
    // onto low user ids).
    val user =
      if (clickSkew > 1.0)
        s"(CAST(${c.customers} * pow(($burst * 2654435761L) % 1000003 " +
          s"/ 1000003.0d, ${clickSkew}d) AS BIGINT) % ${c.customers} + 1)"
      else s"($burst % ${c.customers} + 1)"
    def clickItem(x: String): String =
      s"""CASE WHEN $user % 7 = 0
         |  THEN ($x - $x % 5 + 1) % ${c.items} + 1
         |  ELSE $x + 1 END""".stripMargin.replace("\n", " ")
    val viewItem = clickItem(s"((id * 13) % ${c.items})")
    val buyItem = clickItem(s"(($burst * 13) % ${c.items})")
    val clicks = gen("web_clickstreams", c.clicks, Seq(
      s"($burst * 7 + 5) % 1460",
      s"($burst * 7919) % 82000 + $off * 300",
      s"CASE WHEN $off = $blen - 1 THEN $burst % $wsOrders + 1 ELSE NULL END",
      s"CASE WHEN $off = $blen - 1 THEN $buyItem ELSE $viewItem END",
      s"($burst * 3 + $off % 2) % ${c.webPages} + 1",
      s"CASE WHEN $off < $blen THEN $user ELSE NULL END"), factParts)

    // Inventory = tracked weekly snapshots + irregular one-off audits.
    // Tracked cells (every 5th item at warehouses 1–2) get 18 weekly
    // observations: weeks 0–8 span Jan+Feb 2001 with one quantity
    // spike per cell per month (q23's monthly cov needs repeated
    // observations with variance — spike size varies by cell so the
    // cov≥coefficient filter selects a real subset); weeks 9–17 span
    // the q22 pivot window (days 94–157) at a stable per-cell level so
    // before/after ratios sit inside [2/3, 3/2]. Remaining rows are
    // the one-off audits covering the whole calendar and catalog.
    val invCells = math.max(1L, (c.items / 5) * 2)
    val invTracked = math.min(c.inventory, invCells * 18)
    val invWeek = s"(id div $invCells)"
    val invCell = s"(id % $invCells)"
    val inventory = gen("inventory", c.inventory, Seq(
      s"""CASE WHEN id < $invTracked THEN
            CASE WHEN $invWeek < 9 THEN $invWeek * 7 + 3
                 ELSE 94 + ($invWeek - 9) * 7 END
          ELSE (id * 3 + 3) % 1460 END""".replace("\n", " "),
      s"CASE WHEN id < $invTracked THEN ($invCell div 2) * 5 + 1 " +
        s"ELSE id % ${c.items} + 1 END",
      s"CASE WHEN id < $invTracked THEN $invCell % 2 + 1 " +
        s"ELSE id % ${c.warehouses} + 1 END",
      s"""CASE WHEN id < $invTracked THEN
            CASE WHEN $invWeek < 9 THEN
              CASE WHEN ($invCell + $invWeek) % 4 = 0
                   THEN 100 + ($invCell % 17) * 100
                   ELSE 10 + $invCell % 50 END
            ELSE 80 + $invCell % 40 END
          ELSE (id * 13) % 300 END""".replace("\n", " ")), factParts)

    val reviews = gen("product_reviews", c.reviews, Seq(
      "id + 1",
      "date_format(date_add(DATE'2003-01-01', CAST(id % 700 AS INT)), 'yyyy-MM-dd')",
      "'12:00:00'", "id % 5 + 1", s"id % ${c.items} + 1",
      s"id % ${c.customers} + 1", "id % 200 + 1",
      // fixture sentences + a store-name sentence (NEG/POS/neutral mix
      // so q18's store-mention sentiment scan has real hits) + a
      // varying tail token so the review vocabulary grows with the
      // corpus (q28's hashed features)
      s"concat(${pick(reviewTexts, "id % 5")}, " +
        "CASE (id % 3) " +
        s"WHEN 0 THEN concat(' Service at store', id % ${c.stores} + 1, ' was terrible.') " +
        s"WHEN 1 THEN concat(' The store', id % ${c.stores} + 1, ' team was great.') " +
        s"ELSE concat(' Bought at store', id % ${c.stores} + 1, '.') END, " +
        "' topic', id % 97)"),
      factParts)

    val marketPrices = gen("item_marketprices", c.items, Seq(
      "id + 1", s"id % ${c.items} + 1",
      "concat('Competitor', id % 5)", d2("0.8 + (id % 50) * 0.06"),
      "(id * 7) % 1400 + 30", "(id * 7) % 1400 + 60"), dimParts)

    val incomeBand = gen("income_band", 5, Seq(
      "id + 1", "CAST((id + 1) * 10000 AS INT)",
      "CAST((id + 1) * 20000 AS INT)"), dimParts)

    val shipMode = gen("ship_mode", 5, Seq(
      "id + 1", "printf('SM%05d', id + 1)", "'GROUND'",
      "concat('code', id + 1)", "'Carrier'", "NULL"), dimParts)

    val reason = gen("reason", 5, Seq(
      "id + 1", "printf('R%05d', id + 1)",
      "concat('reason ', id + 1)"), dimParts)

    val webSite = gen("web_site", c.webSites, Seq(
      "id + 1", "printf('WS%05d', id + 1)", "'2001-01-01'", "NULL",
      "concat('site', id + 1)", "1", "NULL", "'class'", "'mgr'", "1",
      "'mktclass'", "'mktdesc'", "'mktmgr'", "1", "'company'",
      "CAST(id + 1 AS STRING)", "'Web'", "'Way'", "NULL", "'Springfield'",
      "'County'", "'CA'", "'12345'", "'United States'",
      "CAST(-5.0 AS DECIMAL(5,2))", "CAST(0.08 AS DECIMAL(5,2))"),
      dimParts)

    Map(dateDim, item, customer, demo, hd, addr, store, warehouse,
      webPage, promo, timeDim, storeSales, storeReturns, webSales,
      webReturns, clicks, inventory, reviews, marketPrices, incomeBand,
      shipMode, reason, webSite)
  }

  /** Write every table as dataGen-style pipe-CSV under
    * `<csvBase>/<table>/`. No field ever contains '|', '"' or a
    * newline, so the unquoted format round-trips exactly through
    * BdbCatalog's quote-less readers.
    *
    * Each table is written as at most `defaultParallelism` files: the
    * fact tables' 32 generator partitions are coalesced here (a
    * 32-core session writes them as they are), so a small session
    * does not pay per-file task and commit cost on tiny files. The
    * rows and their order are those of [[frames]]. The tables are
    * written concurrently ([[BdbCatalog.perTable]]).
    */
  def writeCsv(spark: SparkSession, csvBase: String, c: Counts,
      clickSkew: Double = 1.0): Unit = {
    val fs = frames(spark, c, clickSkew)
    val files = spark.sparkContext.defaultParallelism
    BdbCatalog.perTable(spark) { t =>
      fs(t).coalesce(files).write.mode("overwrite")
        .option("sep", "|").option("quote", "")
        .csv(s"$csvBase/$t")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BdbDataGen <csvOutBase> <scaleFactor> [clickSkew]")
    val spark = graft.Engine.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName = "graft-bdb-datagen")
    spark.sparkContext.setLogLevel("WARN")
    try writeCsv(spark, args(0), Counts(args(1).toDouble),
      if (args.length > 2) args(2).toDouble else 1.0)
    finally spark.stop()
  }
}
