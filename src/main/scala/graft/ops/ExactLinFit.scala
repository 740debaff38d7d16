package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Closed-form least-squares fit of the 3-feature linear-probability
  * classifier — the m03 discipline (closed-form coefficients from
  * exact sums, 0.5-threshold confusion matrix) extended from one
  * regressor to three, so the BDB q05 fit can run END TO END
  * deterministic (gate b64) instead of threshold-only:
  *
  *  - the 14 moment sums (n, Σx_i, Σx_ix_j, Σy, Σx_iy) are EXACT
  *    BIGINTs — every q05 feature is integer-valued (a click count
  *    and three 0/1 indicators) — then cast to double once;
  *  - the 4x4 normal equations solve by Cramer's rule, with the
  *    determinant polynomials emitted as SHARED expression strings
  *    ([[det4]]/[[coefStrs]]) that Spark's `expr()` and the DuckDB
  *    oracle evaluate verbatim: identical parse tree over identical
  *    doubles → bit-identical IEEE results in both engines;
  *  - coefficients round to 6 decimals (the repo grain), predictions
  *    threshold the rounded-coefficient score at 0.5, and the output
  *    row is (b0..b3, tp, fp, fn, tn, acc_ppm) — integer confusion
  *    counts and a ppm accuracy, all order-independent.
  *
  * This replays a linear-probability least-squares fit, not MLlib's
  * iterated logistic optimizer — the logistic fit itself keeps its
  * AUC/precision parity thresholds (MlThresholdSpec), matching the
  * reference's own q05 verification (`bdb_tools/utils.py:548-581`);
  * the point here is a REAL multi-feature fit on the REAL q05
  * feature frame whose every number an oracle can replay.
  *
  * Scale shape: one exact aggregation (14 decimal partials cross the
  * exchange), a 1-row broadcast splice of the coefficients, one
  * scoring pass. Moment sums accumulate in DECIMAL(38,0) — wrap-proof
  * at any corpus size whose per-row products fit a long (max(x)²,
  * the documented call-site regime); the Cramer polynomial is
  * evaluated in doubles, so determinants are approximate beyond 2^53
  * but identically so in both engines.
  */
object ExactLinFit {

  /** det of a 3x3 matrix of expression strings, fixed cofactor
    * expansion along the first row — the SAME string goes to Spark's
    * expr() and the DuckDB oracle, so both evaluate one IEEE tree. */
  def det3(m: Array[Array[String]]): String = {
    def p(a: String, b: String) = s"($a)*($b)"
    s"(${m(0)(0)})*(${p(m(1)(1), m(2)(2))}-${p(m(1)(2), m(2)(1))})" +
      s"-(${m(0)(1)})*(${p(m(1)(0), m(2)(2))}-${p(m(1)(2), m(2)(0))})" +
      s"+(${m(0)(2)})*(${p(m(1)(0), m(2)(1))}-${p(m(1)(1), m(2)(0))})"
  }

  /** det of a 4x4 matrix of expression strings (cofactor row 0). */
  def det4(m: Array[Array[String]]): String = {
    def minor(j: Int): Array[Array[String]] =
      (1 to 3).map(r => (0 to 3).filter(_ != j)
        .map(c => m(r)(c)).toArray).toArray
    s"(${m(0)(0)})*(${det3(minor(0))})" +
      s"-(${m(0)(1)})*(${det3(minor(1))})" +
      s"+(${m(0)(2)})*(${det3(minor(2))})" +
      s"-(${m(0)(3)})*(${det3(minor(3))})"
  }

  /** The symmetric X^T X over (1, x1, x2, x3) in sum-column names. */
  private val a: Array[Array[String]] = Array(
    Array("sn", "s1", "s2", "s3"),
    Array("s1", "s11", "s12", "s13"),
    Array("s2", "s12", "s22", "s23"),
    Array("s3", "s13", "s23", "s33"))

  private val rhs = Array("sy", "s1y", "s2y", "s3y")

  /** denominator determinant |X^T X| as an expression string. */
  val detStr: String = det4(a)

  /** Cramer numerators: column j of X^T X replaced by X^T y. */
  val coefStrs: Seq[String] = (0 to 3).map { j =>
    val mj = a.map(_.clone())
    (0 to 3).foreach(r => mj(r)(j) = rhs(r))
    s"round((${det4(mj)})/($detStr), 6) + 0"
  }

  /** Rounded-coefficient score, thresholded at 0.5 on both sides. */
  val predStr: String =
    "b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE)" +
      " + b3 * CAST(x3 AS DOUBLE)"

  /** The 14 exact moment sums, cast to double AFTER the exact
    * aggregation. The Spark side sums through DECIMAL(38,0) (the
    * Exact.scala discipline) so even a 1e12-row corpus with 1e6-scale
    * regressors cannot wrap the accumulator; DuckDB's SUM(BIGINT) is
    * HUGEINT (128-bit) natively. Both sides convert the identical
    * exact integer to double once — same IEEE rounding, same value. */
  private val moments: Seq[(String, String)] = Seq(
    "COUNT(*)" -> "sn",
    "SUM(x1)" -> "s1", "SUM(x2)" -> "s2", "SUM(x3)" -> "s3",
    "SUM(x1*x1)" -> "s11", "SUM(x1*x2)" -> "s12", "SUM(x1*x3)" -> "s13",
    "SUM(x2*x2)" -> "s22", "SUM(x2*x3)" -> "s23", "SUM(x3*x3)" -> "s33",
    "SUM(y)" -> "sy",
    "SUM(x1*y)" -> "s1y", "SUM(x2*y)" -> "s2y", "SUM(x3*y)" -> "s3y")

  /** Spark-side sum expression: the product stays in long (per-row
    * products are bounded by max(x)² — the documented call-site
    * regime) but ACCUMULATES in decimal. */
  private def sparkMoment(e: String): String =
    if (e == "COUNT(*)") "CAST(COUNT(*) AS DOUBLE)"
    else {
      val inner = e.stripPrefix("SUM(").stripSuffix(")")
      s"CAST(SUM(CAST($inner AS DECIMAL(38,0))) AS DOUBLE)"
    }

  /** DuckDB SQL for the sums CTE body (FROM a relation named f with
    * BIGINT columns x1, x2, x3, y). */
  val sumsSql: String = moments
    .map { case (e, n) => s"CAST($e AS DOUBLE) AS $n" }.mkString(",\n    ")

  /** Fit + score: one row (b0, b1, b2, b3, tp, fp, fn, tn, acc_ppm).
    * `feats` needs integer-valued columns for the three regressors
    * and the 0/1 label.
    */
  def fitStats(feats: DataFrame, x1: String, x2: String, x3: String,
      y: String): DataFrame = {
    // consumed twice: the sums and the scoring pass
    val f = Materialize(feats.select(col(x1).cast("long").as("x1"),
      col(x2).cast("long").as("x2"), col(x3).cast("long").as("x3"),
      col(y).cast("long").as("y")))
    val sums = f.agg(
      expr(sparkMoment(moments.head._1)).as(moments.head._2),
      moments.tail.map { case (e, n) =>
        expr(sparkMoment(e)).as(n) }: _*)
    // singular-design guard (Spark-side only — the shared coefficient
    // strings stay oracle-parseable): det(X^T X) = 0 would make every
    // Cramer quotient 0/0 = NaN, which double division yields SILENTLY
    // even under ANSI (only integral/decimal division throws), and a
    // NaN-for-NaN hash match would gate "clean". Fail loudly instead.
    // The ELSE branch is the verbatim coefficient string, so the
    // non-degenerate value is the identical IEEE tree.
    val b0Guarded =
      s"CASE WHEN ($detStr) = 0.0D THEN CAST(raise_error(" +
        "'graft.ExactLinFit: singular design matrix (det(X^T X) = 0) " +
        "- the least-squares fit is undefined; check the regressors " +
        "for collinear or constant columns') AS DOUBLE) " +
        s"ELSE ${coefStrs(0)} END"
    val coefs = sums.select(
      expr(b0Guarded).as("b0"), expr(coefStrs(1)).as("b1"),
      expr(coefStrs(2)).as("b2"), expr(coefStrs(3)).as("b3"))
    f.crossJoin(broadcast(coefs))
      .select(col("y"), col("b0"), col("b1"), col("b2"), col("b3"),
        when(expr(predStr) >= 0.5, 1L).otherwise(0L).as("pred"))
      .groupBy("b0", "b1", "b2", "b3")
      .agg(
        sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred") === 1 && col("y") === 0, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("pred") === 0 && col("y") === 1, 1L).otherwise(0L))
          .as("fn"),
        sum(when(col("pred") === 0 && col("y") === 0, 1L).otherwise(0L))
          .as("tn"),
        expr("(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000)" +
          " div COUNT(*)").as("acc_ppm"))
      .select("b0", "b1", "b2", "b3", "tp", "fp", "fn", "tn", "acc_ppm")
  }
}
