package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact-arithmetic aggregation helpers.
  *
  * Rationale: the correctness gate hash-compares our results against a
  * DuckDB oracle. Floating-point SUM/AVG over a distributed dataset is
  * order-dependent in the last ulp, so `sum(double)` can differ between
  * engines (and between runs!). Summing in DECIMAL is exact and
  * order-independent; casting the exact decimal back to DOUBLE at the
  * end yields a bit-identical double in any engine. Derived statistics
  * (avg/stddev/corr/regression slope) are then computed with plain
  * double arithmetic over these exact inputs — deterministic because
  * IEEE 754 +,-,*,/,sqrt are exactly specified.
  *
  * This mirrors the reference's tolerance-based verification concern
  * (`gpu_bdb/bdb_tools/utils.py:449-477` compares at 6 significant
  * digits) but achieves exactness instead of tolerance.
  *
  * At 100 TB this stays cheap: decimal(14,2) sums use Spark's internal
  * long-backed Decimal fast path and partial aggregation still applies.
  */
object Exact {
  /** Exact sum of a money/quantity-like double column -> double. */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(14,2)")).cast("double")

  /** Exact sum kept as decimal (for further exact arithmetic). */
  def dsumDec(c: Column): Column = sum(c.cast("decimal(14,2)"))

  /** Exact sum of a product of two money-like columns.
    *
    * Implementation note (perf): a decimal(14,2) x decimal(14,2)
    * product is precision 29 — off Spark's long-backed Decimal fast
    * path, so the naive form pays a BigDecimal multiply per row
    * (round-3 profiling: o23_corr was the slowest relational query).
    * Instead each factor is rounded once via the decimal(14,2) cast
    * (correct HALF_UP money rounding), its unscaled cents extracted
    * as a long ([[graft.expressions.UnscaledLong]]), and the per-row
    * product is a single long IMUL. Only the aggregate sums into a
    * wide decimal; /10^4 restores the 2+2 scale exactly. Bit-identical
    * to the naive form whenever |a*b| < 2^63/10^4 per row — i.e. both
    * factors under ~$30M — which holds for every money/quantity column
    * in scope; [[dsumProdWide]] keeps the full-range path.
    */
  def dsumProd(a: Column, b: Column): Column =
    (sum((cents(a) * cents(b)).cast("decimal(38,0)")) / lit(10000))
      .cast("double")

  /** Full-range variant of [[dsumProd]] (decimal products all the
    * way): use when factors can exceed ~$30M in absolute value.
    */
  def dsumProdWide(a: Column, b: Column): Column =
    sum(a.cast("decimal(14,2)") * b.cast("decimal(14,2)")).cast("double")

  /** Money column -> exact cents as long (unscaled decimal(14,2)). */
  private[ops] def cents(c: Column): Column =
    graft.expressions.GraftFunctions.unscaled_long(c.cast("decimal(14,2)"))

  /** [[dsum]] over a PRE-EXTRACTED long-cents column (see [[cents]]/
    * [[centsOf]]): the aggregate buffer is a plain long add in
    * whole-stage codegen instead of a checked Decimal add — the win
    * compounds under grouping-set Expand, where every input row pays
    * the buffer update once per grouping set. The single /100 +
    * double cast per GROUP goes through exact decimal division, so
    * the result is bit-identical to [[dsum]] at any magnitude the
    * long sum can represent. Overflow bound: Spark 4 runs ANSI mode,
    * so a cents sum past 2^63 fails LOUDLY rather than wrapping;
    * with per-row money < $1M (1e8 cents) that needs > 9e10 rows in
    * ONE group — at the 100 TB orders scale (~1.5e11 rows, avg
    * ~1.5e7 cents, grand total ~2.3e18 < 2^63/4) the bound holds
    * with headroom; past it, fall back to [[dsum]].
    */
  def dsumOfCents(centsCol: Column): Column =
    (sum(centsCol).cast("decimal(38,0)") / lit(100)).cast("double")

  /** Public [[cents]]: exact long cents for [[dsumOfCents]] callers
    * that project the extraction BELOW an Expand/aggregate. */
  def centsOf(c: Column): Column = cents(c)

  /** Exact average -> double (exact decimal sum / exact count).
    *
    * NULL contract (davg/dstddev/dstddevRaw/dcorr/dslope): inputs
    * must be NON-NULL columns. `n` is count(*) while the decimal sums
    * skip NULLs, so a NULL input would silently skew the statistic
    * (and dcorr would mix per-column exclusion) instead of matching
    * SQL's null-excluding AVG/STDDEV/CORR. Every call site feeds
    * non-nullable or pre-filtered columns; filter NULLs first if
    * yours doesn't. The oracle SQL texts share the count(*) form, so
    * engine and oracle stay identical either way.
    */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Derived float statistics are rounded to 6 decimals: decimal sums
    * above ~15 significant digits can round differently by 1 ulp when
    * cast to double (DuckDB converts int128-backed decimals via a
    * two-step int->double, /10^scale path; the JVM rounds correctly).
    * Rounding the final statistic absorbs that last-ulp divergence —
    * same discipline as the reference's 6-significant-digit compare
    * (`bdb_tools/utils.py:449-477`).
    *
    * The trailing `+ 0.0` normalizes IEEE negative zero: a slope that
    * rounds to zero from below is -0.0 in engines that keep the sign
    * through round() but 0.0 here — numerically equal, byte-hash
    * different. IEEE -0.0 + 0.0 = 0.0, and null + 0.0 stays null, so
    * this is semantics-free. Oracle SQL for r6-derived stats carries
    * the same `+ 0`.
    */
  private def r6(c: Column): Column = round(c, 6) + lit(0.0)

  /** UNROUNDED sample standard deviation from exact components —
    * bit-identical across engines as long as the decimal sums stay
    * under ~15 significant digits (no rounding step means no
    * round-boundary hazard: round(x, 6) can disagree between Spark's
    * exact-binary-expansion rounding and DuckDB's multiply-based
    * rounding when x sits exactly on a 1e-6 boundary — observed once
    * in ~44k values at sf0.1). Prefer this when the stddev feeds
    * further arithmetic or comparisons; use [[dstddev]] only when the
    * inputs are large enough for the decimal→double cast to diverge.
    */
  def dstddevRaw(c: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = dsum(c)
    val sxx = dsumProd(c, c)
    // greatest(.., 0): the numerator is mathematically nonnegative,
    // but once the sums exceed 2^53 double rounding can push a
    // constant column's exact 0 slightly negative and sqrt would
    // return NaN silently; the oracle SQL carries the same GREATEST
    when(n > 1, sqrt(greatest(n * sxx - sx * sx, lit(0.0)) /
        (n * (n - lit(1.0)))))
      .otherwise(lit(null).cast("double"))
  }

  /** Sample standard deviation from exact components.
    * sqrt((n*sxx - sx^2) / (n*(n-1))) with sx,sxx exact decimals cast
    * to double. Deterministic across engines (IEEE sqrt is exact).
    */
  def dstddev(c: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = dsum(c)
    val sxx = dsumProd(c, c)
    // n <= 1 -> undefined (ANSI mode errors on x/0, so guard);
    // greatest(.., 0) as in dstddevRaw (rounding-negative variance)
    when(n > 1, r6(sqrt(greatest(n * sxx - sx * sx, lit(0.0)) /
        (n * (n - lit(1.0))))))
      .otherwise(lit(null).cast("double"))
  }

  /** Pearson correlation from exact components (same discipline as the
    * reference's closed-form regression, SURVEY O23/O24).
    */
  def dcorr(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = dsum(x); val sy = dsum(y)
    val sxx = dsumProd(x, x); val syy = dsumProd(y, y)
    val sxy = dsumProd(x, y)
    val den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    when(den > 0, r6((n * sxy - sx * sy) / sqrt(den)))
      .otherwise(lit(null).cast("double"))
  }

  /** Closed-form least-squares slope of y over x from exact sums —
    * the reference's q15/q18 pattern
    * (`queries/q15/gpu_bdb_query_15_dask_sql.py:41-64`).
    * x is expected integral (e.g. day number), y money-like.
    */
  def dslope(x: Column, y: Column): Column = r6(dslopeRaw(x, y))

  /** Unrounded slope (internal, for intercept composition).
    * x is integral so x*x and x*cents(y) are long IMULs per row (same
    * fast-path rationale as [[dsumProd]]; x*x exceeding long range
    * would need |x| > 3e9, far beyond any day/ordinal domain).
    */
  private def dslopeRaw(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    val xL = x.cast("bigint")
    val sx = sum(x.cast("decimal(18,0)")).cast("double")
    val sy = dsum(y)
    val sxx = sum((xL * xL).cast("decimal(38,0)")).cast("double")
    val sxy = (sum((xL * cents(y)).cast("decimal(38,0)")) / lit(100))
      .cast("double")
    val den = n * sxx - sx * sx
    when(den =!= 0, (n * sxy - sx * sy) / den)
      .otherwise(lit(null).cast("double"))
  }

  /** Intercept companion to [[dslope]]. */
  def dintercept(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = sum(x.cast("decimal(18,0)")).cast("double")
    val sy = dsum(y)
    r6((sy - dslopeRaw(x, y) * sx) / n)
  }
}
