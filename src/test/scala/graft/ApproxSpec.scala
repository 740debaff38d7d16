package graft

import org.apache.spark.sql.functions._

class ApproxSpec extends SparkSpec {

  test("approx_count_distinct within 5% of exact (HLL path for O20)") {
    val li = Tables.load(spark, sf, "lineitem")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).first()
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("HllAgg: estimate accurate for n >> m and invariant to partitioning") {
    val hll = udaf(new graft.ops.HllAgg())
    // accuracy holds in the sketch's design regime n >> m (the raw
    // estimator floors at ~0.72m below that — documented: use exact
    // distinct for low cardinalities); std error at m=1024 is ~3.3%
    val n = 50000L
    val ids = spark.range(n)
      .select(graft.ops.Text.portableHash(col("id").cast("string"))
        .as("hv"))
    def run(parts: Int): Double =
      ids.repartition(parts).agg(hll(col("hv")).as("est"))
        .first().getDouble(0)
    val e1 = run(1)
    val e8 = run(8)
    // merge must be order/partitioning-independent (register-wise max)
    assert(e1 === e8, s"partitioning changed the estimate: $e1 vs $e8")
    assert(math.abs(e1 - n.toDouble) / n < 0.10, s"hll $e1 vs exact $n")
  }

  test("HllAgg rejects m < 512 (rank would exceed the 51-bit rest range)") {
    intercept[IllegalArgumentException] { new graft.ops.HllAgg(256) }
    intercept[IllegalArgumentException] { new graft.ops.HllAgg(100) }
    new graft.ops.HllAgg(512) // boundary is legal
  }

  test("HistQuantileAgg: within half a bin of exact, partitioning-invariant") {
    val W = 10000L
    val p50 = udaf(new graft.ops.HistQuantileAgg(W, 1100, 1, 2))
    val li = Tables.load(spark, sf, "lineitem")
      .select(round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
    def run(parts: Int): Long =
      li.repartition(parts).agg(p50(col("cents"))).first().getLong(0)
    val e1 = run(1)
    val e8 = run(8)
    assert(e1 === e8, s"partitioning changed the quantile: $e1 vs $e8")
    val exact = li.stat.approxQuantile("cents", Array(0.5), 0.0).head
    assert(math.abs(e1 - exact) <= W,
      s"sketch p50 $e1 too far from exact $exact")
  }

  test("extensions class injects both functions") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new graft.expressions.GraftSparkExtensions().apply(exts)
    // the shared session is built with these extensions
    // (Engine.session), so both identifiers resolve from SQL without
    // the live registration path
    assert(spark.sql("SELECT portable_hash60('x'), " +
      "cosine_f(array(cast(1.0 as float)), array(cast(1.0 as float)))")
      .count() === 1L)
  }
}
