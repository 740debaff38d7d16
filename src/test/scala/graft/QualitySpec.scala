package graft

import graft.ops.Quality
import org.apache.spark.graftbridge.JobCount
import org.apache.spark.sql.functions._

/** Observation-based quality counters must (a) report exact counts and
  * (b) ride the existing action — no extra Spark job.
  */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("observeCompleteness counts nulls during the main action") {
    val df = Seq(
      (1L, Some("a")), (2L, None), (3L, Some("c")), (4L, None)
    ).toDF("id", "v")
    val (observed, obs) = Quality.observeCompleteness(df, Seq("v", "id"))
    val n = observed.filter(col("id") > 0).count()   // the "main" action
    assert(n === 4)
    val m = obs.get
    assert(m("n_rows") === 4L)
    assert(m("null_v") === 2L)
    assert(m("null_id") === 0L)
  }

  test("observeInvariants counts violations in-pass") {
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_quantity", "l_extendedprice", "l_shipdate")
    val (observed, obs) = Quality.observeInvariants(li, Map(
      "qty_positive" -> (col("l_quantity") > 0),
      "price_nonneg" -> (col("l_extendedprice") >= 0),
      "date_parses" -> to_date(col("l_shipdate")).isNotNull))
    val total = observed.count()
    val m = obs.get
    // testdata is clean — the point is the counters arrive with the
    // count() action and are exact
    assert(m("bad_qty_positive") === 0L)
    assert(m("bad_price_nonneg") === 0L)
    assert(m("bad_date_parses") === 0L)
    assert(total > 0)
  }

  test("observeInvariants counts NULL-valued predicates as violations") {
    // three-valued logic: col > 0 on a null col is NULL, not false —
    // the most common defect shape must still register as bad
    val df = Seq(Some(5L), None, Some(-1L), Some(2L)).toDF("qty")
    val (observed, obs) = Quality.observeInvariants(df, Map(
      "qty_positive" -> (col("qty") > 0)))
    observed.write.format("noop").mode("overwrite").save()
    assert(obs.get("bad_qty_positive") === 2L) // the null AND the -1
    intercept[IllegalArgumentException] {
      Quality.observeInvariants(df, Map.empty)
    }
  }

  test("malformed JSON surfaces via _corrupt_record, not job failure") {
    // ingest robustness: bad records must quarantine, not kill the job
    val rows = Seq("""{"k": 1}""", """{"k": """, """not json""")
      .toDF("props")
    val parsed = rows.select(
      from_json(col("props"), "k long, _corrupt_record string",
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
      .select(col("j.k"), col("j._corrupt_record"))
    val collected = parsed.collect()
    assert(collected.count(r => !r.isNullAt(0) && r.getLong(0) == 1L) === 1)
    assert(collected.count(r => !r.isNullAt(1)) === 2,
      s"expected 2 quarantined rows: ${collected.mkString(", ")}")
  }

  test("observation does not spawn extra jobs vs the bare action") {
    // count jobs in a DEDICATED job group: the default-group count is
    // perturbed by every other suite sharing this session, and the
    // status tracker's retained-jobs window evicts old ids mid-test
    // on long runs (observed as a negative delta)
    def countJobs(body: => Unit): Int = JobCount(spark.sparkContext)(body)._2
    val df = Tables.load(spark, sf, "orders").select("o_orderkey")
    // baseline: identical write WITHOUT observation
    val bare = countJobs {
      df.write.format("noop").mode("overwrite").save()
    }
    // observed write must cost the same number of jobs
    val (observed, obs) = Quality.observeCompleteness(df, Seq("o_orderkey"))
    val withObs = countJobs {
      observed.write.format("noop").mode("overwrite").save()
    }
    assert(obs.get("n_rows").asInstanceOf[Long] > 0L)
    assert(withObs === bare,
      s"observation changed job count: $withObs vs $bare")
  }
}
