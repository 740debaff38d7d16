package graft

import graft.ops.MlPipelines

/** Metric-threshold checks for the MLlib model-fitting pipelines —
  * the reference's own verification stance for iterated ML (WSSSE /
  * AUC thresholds, not row equality; `bdb_tools/utils.py:517-581`).
  * The hash-exact relational ML cores (m01–m07) are verified by the
  * driver's DuckDB oracle instead; here we only cross-check their
  * invariants against the MLlib parity paths.
  */
class MlThresholdSpec extends SparkSpec {

  test("kmeans: WSSSE below the no-clustering baseline (total variance)") {
    val out = MlPipelines.kmeansMllib(spark, sf).collect()
    val wssse = out(0).getAs[Double]("wssse")
    assert(out.map(_.getAs[Long]("n")).sum === 500L)
    // unit-norm 64-dim vectors, near-orthogonal: total variance around
    // the global mean is close to n (=500); k=8 must do better
    assert(wssse > 0 && wssse < 500.0, s"wssse=$wssse")
  }

  test("logreg: AUC above chance on the held-out split") {
    val r = MlPipelines.logregMllib(spark, sf).collect()(0)
    val auc = r.getAs[Double]("auc")
    val n = r.getAs[Long]("n_test")
    assert(n > 0)
    assert(auc > 0.45, s"auc=$auc") // embeddings are weakly predictive
  }

  test("logreg: scores after an Observation ran in the session") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    // a completed Observation leaves a non-serializable manager in the
    // session, which a fitted model's training summary reaches
    val obs = Observation()
    spark.range(0, 3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") === 3L)
    val r = MlPipelines.logregMllib(spark, sf).collect()(0)
    val cells = Seq("tp", "fp", "fn", "tn").map(r.getAs[Long])
    assert(cells.sum === r.getAs[Long]("n_test"))
    assert(cells(0) + cells(3) === r.getAs[Long]("n_correct"))
  }

  test("naive bayes and kmeans: score after an Observation ran in the session") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, count, lit, pmod}
    // the logreg hazard above, for the two other MLlib paths that score
    // through the fitted model (NB's transform, k-means' summary)
    val obs = Observation()
    spark.range(0, 3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") === 3L)
    val nTest = Tables.load(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 0).count()
    val nb = MlPipelines.naiveBayesMllib(spark, sf).collect()
    assert(nb.map(_.getAs[Long]("n")).sum === nTest)
    val km = MlPipelines.kmeansMllib(spark, sf).collect()
    assert(km.map(_.getAs[Long]("n")).sum ===
      Tables.load(spark, sf, "embeddings").count())
  }

  test("naive bayes: accuracy at least majority-class rate") {
    val conf = MlPipelines.naiveBayesMllib(spark, sf).collect()
    val total = conf.map(_.getAs[Long]("n")).sum
    val correct = conf.filter(r =>
      r.getAs[Double]("true_lang") == r.getAs[Double]("pred_lang"))
      .map(_.getAs[Long]("n")).sum
    val byClass = conf.groupBy(_.getAs[Double]("true_lang"))
      .map(_._2.map(_.getAs[Long]("n")).sum)
    val majority = byClass.max
    assert(correct >= majority,
      s"accuracy ${correct.toDouble / total} below majority baseline " +
        s"${majority.toDouble / total}")
  }

  test("kmeans iter3: partitions all vectors over at most 8 clusters") {
    val out = SparkEntry.queries("m02_kmeans_iter3")(spark, sf).collect()
    assert(out.length <= 8 && out.nonEmpty)
    assert(out.map(_.getAs[Long]("n")).sum === 500L)
    // centroids are micro-unit quantized unit-norm components
    out.foreach { r =>
      // columns: cid, n, c1..c4 — centroid dims at indices 2..5
      (2 to 5).foreach { i =>
        assert(math.abs(r.getLong(i)) <= 1000000L, r.toString)
      }
    }
  }

  test("linear classifier: confusion counts partition the test split") {
    val r = SparkEntry.queries("m03_linear_clf")(spark, sf).collect()(0)
    val n = r.getAs[Long]("n_test")
    val parts = Seq("tp", "fp", "fn", "tn").map(r.getAs[Long](_)).sum
    assert(n > 0 && parts === n)
    val acc = r.getAs[Long]("acc_ppm")
    assert(acc >= 0 && acc <= 1000000L)
  }

  test("nb-ppm classifier: beats the majority-class baseline") {
    val conf = SparkEntry.queries("m04_nb_ppm_text")(spark, sf).collect()
    val total = conf.map(_.getAs[Long]("n")).sum
    val correct = conf.filter(r =>
      r.getAs[String]("true_lang") == r.getAs[String]("pred_lang"))
      .map(_.getAs[Long]("n")).sum
    val majority = conf.groupBy(_.getAs[String]("true_lang"))
      .map(_._2.map(_.getAs[Long]("n")).sum).max
    assert(total > 0)
    assert(correct >= majority,
      s"accuracy ${correct.toDouble / total} below majority baseline " +
        s"${majority.toDouble / total}")
  }

  test("multiclass metrics: ppm values bounded, counts consistent") {
    val rows = SparkEntry.queries("m05_multiclass_metrics")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, rec, f1) = (r.getAs[Long]("precision_ppm"),
        r.getAs[Long]("recall_ppm"), r.getAs[Long]("f1_ppm"))
      Seq(p, rec, f1).foreach(v => assert(v >= 0 && v <= 1000000L))
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_pred")
        || r.getAs[Long]("n_pred") == 0)
    }
    // test split is doc_id % 10 == 0 over 500 docs
    assert(rows.map(_.getAs[Long]("n_true")).sum === 50L)
  }

  test("portable hashing-tf agrees with MLlib HashingTF on term mass") {
    import org.apache.spark.sql.functions._
    val portable = SparkEntry.queries("m06_hashing_tf")(spark, sf)
      .select(col("doc_id"), col("n_tok"))
    // MLlib term mass counts every split token incl. empties; compare
    // against the non-empty token count both paths share
    val mllib = MlPipelines.hashingTfMllib(spark, sf)
      .select(col("doc_id"), col("term_mass"))
    val joined = portable.join(mllib, "doc_id")
      .withColumn("diff", col("term_mass") - col("n_tok"))
      .collect()
    assert(joined.nonEmpty)
    // empty tokens (double spaces) can only add mass on the MLlib side
    joined.foreach { r =>
      assert(r.getAs[Double]("diff") >= 0.0, r.toString)
    }
    // and the vast majority of docs should agree exactly
    val exact = joined.count(_.getAs[Double]("diff") == 0.0)
    assert(exact >= joined.length / 2, s"only $exact of ${joined.length} agree")
  }

  test("m11: 3 integer power rounds align with the converged float " +
    "dominant eigenvector (|cos| > 0.999)") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("m11_pca_power")(spark, sf)
      .orderBy("dim").collect()
    val v = out.map(_.getAs[Long]("comp").toDouble)
    val dim = v.length
    assert(dim === 8)
    // float reference on the SAME integer features, iterated far past
    // the query's 3 rounds
    val rows = Tables.load(spark, sf, "lineitem")
      .select(expr("""array(
        CAST(floor(l_quantity) AS BIGINT),
        CAST(floor(l_extendedprice) AS BIGINT) div 100,
        CAST(floor(l_discount * 100) AS BIGINT),
        CAST(floor(l_tax * 100) AS BIGINT),
        CAST(month(l_shipdate) AS BIGINT),
        CAST(day(l_shipdate) AS BIGINT),
        CAST(year(l_shipdate) - 1992 AS BIGINT),
        l_partkey % 97)""").as("v"))
      .collect()
    val g = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val a = r.getSeq[Long](0)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { g(i)(j) += a(i).toDouble * a(j).toDouble; j += 1 }
        i += 1
      }
    }
    var u = Array.fill(dim)(1.0)
    for (_ <- 1 to 100) {
      val nu = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * u(j)).sum)
      val n = math.sqrt(nu.map(x => x * x).sum)
      u = nu.map(_ / n)
    }
    val vn = math.sqrt(v.map(x => x * x).sum)
    assert(vn > 0, "integer iteration collapsed to zero")
    val cos = math.abs((0 until dim).map(i => (v(i) / vn) * u(i)).sum)
    assert(cos > 0.999, s"direction cos=$cos")
  }
}
