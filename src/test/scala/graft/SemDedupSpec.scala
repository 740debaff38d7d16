package graft

import graft.ops.SemDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Gates BOTH sides of the SemDedup centroid k-switch (ops/SemDedup):
  * the literal-kernel path (gated scales) and the large-k join path
  * (fixed-k Lloyd centroids as a table) must produce identical
  * assignments for the same centroid set, the switch must route on k,
  * and the large-k path must compile NO driver-side centroid literal
  * into the plan.
  */
class SemDedupSpec extends SparkSpec {

  private def embs: DataFrame =
    Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")

  private def asgSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("vec_id"), col("cid").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Every expression in the optimized plan, recursively. */
  private def allExprs(df: DataFrame) =
    df.queryExecution.optimizedPlan
      .collect { case p => p.expressions }.flatten
      .flatMap(e => e.collect { case x => x })

  private def assertNoCentroidLiteral(df: DataFrame): Unit = {
    val es = allExprs(df)
    assert(!es.exists(_.isInstanceOf[graft.expressions.ArgmaxCos]),
      "large-k plan must not contain the argmax_cos kernel literal")
    assert(!es.exists(_.isInstanceOf[graft.expressions.PqAssignAdc]),
      "large-k plan must not contain the pq_assign_adc kernel literal")
    val bigLits = es.collect {
      case l: Literal if l.dataType.isInstanceOf[ArrayType] &&
        l.value != null &&
        l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .numElements() > 256 => l
    }
    assert(bigLits.isEmpty,
      s"large-k plan must not ship centroid arrays as literals: $bigLits")
  }

  test("cosine assignment: join path == kernel-literal path on the same centroids") {
    val e = embs
    val cents = SemDedup.sampledCentroids(e)
    val lit = asgSet(SemDedup.assignCosLiteralRows(e,
      cents.select("cid", "cvec").collect()))
    val join = asgSet(SemDedup.assignCosJoin(e, cents))
    assert(lit.nonEmpty && lit == join)
  }

  test("ADC assignment: join path == kernel-literal path on the same centroids") {
    import graft.expressions.GraftFunctions.pq_encode
    val e = embs
    val cents = SemDedup.sampledCentroids(e)
    val lit = asgSet(SemDedup.assignAdcLiteralRows(e, cents
      .select(col("cid"), pq_encode(col("cvec")).as("ccodes")).collect()))
    val join = asgSet(SemDedup.assignAdcJoin(e, cents))
    assert(lit.nonEmpty && lit == join)
  }

  test("k-switch routes: small k -> kernel literal; forced large k -> join, no literal") {
    val e = embs
    // Small side (default bound): the plan DOES carry the kernel.
    val small = SemDedup.assignCos(e)
    assert(allExprs(small).exists(_.isInstanceOf[graft.expressions.ArgmaxCos]))
    // Forced large side: fixed-k Lloyd centroids as a table; the plan
    // carries no kernel and no oversized array literal.
    val large = SemDedup.assignCos(e, maxLiteralK = 0L, fixedK = 4,
      lloydIters = 1)
    assertNoCentroidLiteral(large)
    val n = e.count()
    assert(large.count() == n)
    assert(large.select("cid").distinct().count() <= 4)
    // Same for the ADC switch.
    val smallAdc = SemDedup.assignAdc(e)
    assert(allExprs(smallAdc)
      .exists(_.isInstanceOf[graft.expressions.PqAssignAdc]))
    val largeAdc = SemDedup.assignAdc(e, maxLiteralK = 0L, fixedK = 4,
      lloydIters = 1)
    assertNoCentroidLiteral(largeAdc)
    assert(largeAdc.count() == n)
  }

  test("fixed-k Lloyd: deterministic, k-bounded, dim-preserving") {
    val e = embs
    val c1 = SemDedup.lloydCentroids(e, k = 4, iters = 2)
      .select(col("cid"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).sortBy(_._1)
    val c2 = SemDedup.lloydCentroids(e, k = 4, iters = 2)
      .select(col("cid"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).sortBy(_._1)
    assert(c1.nonEmpty && c1.length <= 4)
    assert(c1.forall(_._2.length == 64))
    assert(c1.toList == c2.toList)
  }

  test("empty centroid sample fails loudly, naming the sampling rule") {
    // vec_ids that all miss the every-61st residue: the literal path
    // must not reach cRows.head (a bare NoSuchElementException pre-fix)
    import spark.implicits._
    val e = Seq((1L, Array.fill(4)(1.0f)), (2L, Array.fill(4)(2.0f)))
      .toDF("vec_id", "embedding")
    val eCos = intercept[IllegalArgumentException] {
      SemDedup.assignCos(e).collect()
    }
    assert(eCos.getMessage.contains("empty centroid set"))
    val eAdc = intercept[IllegalArgumentException] {
      SemDedup.assignAdc(e).collect()
    }
    assert(eAdc.getMessage.contains("empty centroid set"))
  }

  test("probeLimit clamps without wrapping at the Long/Int edges") {
    assert(SemDedup.probeLimit(5L) == 6)
    assert(SemDedup.probeLimit(Int.MaxValue.toLong - 1) == Int.MaxValue)
    assert(SemDedup.probeLimit(Int.MaxValue.toLong) == Int.MaxValue)
    assert(SemDedup.probeLimit(Long.MaxValue) == Int.MaxValue)
    assert(SemDedup.probeLimit(Long.MaxValue - 1) == Int.MaxValue)
  }
}
