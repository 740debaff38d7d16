package graft

import graft.plans.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKSpec extends SparkSpec {

  test("TopKPerKey == window row_number filter (same row set)") {
    val o = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val viaOp = TopK.perKey(o, Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the rank-kept window form: the session's TopK rewrite leaves it
    // a real Window (dropping rn would rewrite it to the operator under
    // test and compare it with itself)
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val viaWindow = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaOp === viaWindow)
    assert(viaOp.nonEmpty)
  }

  test("rewrite rule: declarative row_number<=k form plans TopKPerKeyExec") {
    val o = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val declarative = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    assert(declarative.queryExecution.executedPlan.toString
      .contains("TopKPerKey"),
      declarative.queryExecution.executedPlan.toString.take(2000))
    // control: keeping the rank in the output must NOT rewrite
    val kept = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    assert(!kept.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    // equivalence against the (unrewritten) rank-kept window form
    val got = declarative.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = kept.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("rewrite rule: an always-false Int.MinValue bound is NOT consumed") {
    // rn < Int.MinValue: k-1 underflow would read as bound
    // Int.MaxValue and the conjunct would be silently dropped while
    // rn <= 3 makes the rewrite fire — the query must stay empty
    val o = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy("o_custkey").orderBy(
      col("o_totalprice").desc, col("o_orderkey"))
    val res = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("rn") < lit(Int.MinValue))
      .drop("rn")
    assert(res.count() === 0L,
      "always-false rank conjunct must not be dropped by the rewrite")
  }

  test("rewrite rule: residual conjuncts survive as a Filter on the operator") {
    val o = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val declarative = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("o_totalprice") > 50000.0).drop("rn")
    assert(declarative.queryExecution.executedPlan.toString
      .contains("TopKPerKey"))
    val kept = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("o_totalprice") > 50000.0)
    val got = declarative.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = kept.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("TopKPerKey plans the custom exec with a single exchange") {
    val o = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val df = TopK.perKey(o, Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(2000))
    assert(plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(!plan.contains("Window"), "fell back to window exec")
  }
}
