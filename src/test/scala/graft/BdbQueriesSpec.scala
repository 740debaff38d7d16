package graft

import graft.bdb._
import org.apache.spark.graftbridge.JobCount

/** Semantic spot-checks for the TPCx-BB queries on the deterministic
  * in-memory fixture. Full-result execution coverage of all 30
  * queries lives in [[BdbGoldenSpec]] (golden-output compare, which
  * subsumes the former per-query smoke runs).
  */
class BdbQueriesSpec extends SparkSpec {

  private lazy val ready: Unit = BdbFixture.register(spark)

  test("q28 sparse NB == MLlib NaiveBayes on identical hashed features") {
    import org.apache.spark.sql.functions._
    // the sparse (label, bucket) model must reproduce MLlib's
    // multinomial NB exactly (same smoothing, priors, argmax
    // tiebreak) when both see the same feature vectors — build MLlib
    // vectors from q28's own bucket function and compare confusion
    // matrices
    ready
    val n = 1 << 12
    val labeled = spark.table("product_reviews")
      .filter(col("pr_review_content").isNotNull &&
        col("pr_review_rating").isNotNull)
      .withColumn("label",
        when(col("pr_review_rating") <= 2, 0.0)
          .when(col("pr_review_rating") === 3, 1.0).otherwise(2.0))
      .withColumn("words",
        split(lower(col("pr_review_content")), "[^a-z']+"))
    // same unigram+bigram feature stream as q28 (ngram_range=(1,2))
    val toks = labeled.select(col("pr_review_sk"), col("label"),
        explode(concat(col("words"),
          when(size(col("words")) >= 2,
            expr("transform(sequence(1, size(words) - 1), " +
              "i -> concat_ws(' ', element_at(words, i), " +
              "element_at(words, i + 1)))"))
            .otherwise(array().cast("array<string>")))).as("word"))
      .withColumn("b", pmod(hash(col("word")), lit(n)))
    val vecs = toks.groupBy("pr_review_sk", "label", "b")
      .agg(count(lit(1)).as("tf"))
      .groupBy("pr_review_sk", "label")
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("b"), col("tf"))))).as("m"))
      .collect().map { r =>
        val m = r.getMap[Int, Long](2)
        (r.getLong(0), r.getDouble(1), org.apache.spark.ml.linalg.Vectors
          .sparse(n, m.keys.toArray.sorted,
            m.keys.toArray.sorted.map(k => m(k).toDouble)))
      }
    val df = spark.createDataFrame(vecs.toSeq)
      .toDF("sk", "label", "features")
    val model = new org.apache.spark.ml.classification.NaiveBayes()
      .setSmoothing(0.001).setModelType("multinomial")
      .fit(df.filter(pmod(col("sk"), lit(10)) =!= 0))
    val mlConf = model.transform(df.filter(pmod(col("sk"), lit(10)) === 0))
      .groupBy(col("label").as("true_label"),
        col("prediction").as("pred_label"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSet
    val sparseConf = BdbQueries2.q28(spark, numFeatures = n)
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSet
    assert(sparseConf === mlConf)
    assert(sparseConf.nonEmpty)
  }

  test("q01 pair semantics on fixture: pairs share a ticket") {
    ready
    val rows = BdbQueries1
      .q01(spark, stores = Seq(1, 2, 3, 4, 5), minCount = 0, limit = 10)
      .collect()
    rows.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("q27 seam runs both NER extractors; gazetteer is a precision subset") {
    ready
    val cap = BdbQueries2.q27(spark, itemSk = 1).collect()
    val gaz = BdbQueries2
      .q27(spark, itemSk = 1, extractor = Ner.byName("gazetteer")).collect()
    assert(cap.nonEmpty && gaz.nonEmpty)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(2), r.getString(3))
    assert(gaz.map(key).toSet.subsetOf(cap.map(key).toSet))
    // genuinely different taggers: the recall tagger also returns
    // sentence-initial spans the precision tagger drops
    assert(gaz.map(key).toSet != cap.map(key).toSet)
    intercept[IllegalArgumentException](Ner.byName("bert"))
  }

  test("q27 perceptron extractor: learned tagger generalizes to unseen orgs") {
    import graft.bdb.PerceptronNer
    // held-out names — none appear in the training corpus — in the
    // contexts the model learned (mid-sentence Aa spans, suffix cues)
    assert(PerceptronNer.orgSpans("I bought this from Cyberdyne Corp today")
      .contains("Cyberdyne Corp"))
    assert(PerceptronNer.orgSpans("the service at ShopRight was terrible")
      .contains("ShopRight"))
    // sentence-initial capitalized distractors stay untagged
    assert(PerceptronNer.orgSpans("Terrible quality, really bad.").isEmpty)
    assert(PerceptronNer.orgSpans("Average item. Nothing special here?")
      .forall(s => !Set("Average", "Nothing").contains(s)))
    // training is deterministic: frozen weights, identical re-tag
    assert(PerceptronNer.orgSpans("support by Initech LLC was excellent")
      == PerceptronNer.orgSpans("support by Initech LLC was excellent"))
    // the full q27 pipeline runs with the statistical tagger and
    // extracts the fixture's org mentions (never seen in training).
    // item 3's reviews carry the mid-sentence "Acme Corp" mention —
    // the context class the model learned; sentence-INITIAL org
    // mentions (item 1's "StoreOne sold it fast") are genuinely
    // ambiguous for a learned tagger and not asserted.
    ready
    val per = BdbQueries2
      .q27(spark, itemSk = 3, extractor = Ner.byName("perceptron")).collect()
    assert(per.nonEmpty)
    val names = per.map(_.getString(2)).toSet
    assert(names.exists(_.toLowerCase.contains("acme")),
      s"perceptron found no fixture orgs, got: $names")
  }

  test("q27 pretrained extractor: frozen committed weights load, " +
    "generalize to unseen orgs, and run the full pipeline") {
    import graft.bdb.PretrainedNer
    // the model is LOADED, not trained: weights must match the
    // committed artifact regenerated from the committed corpus
    // (byte-stable training — TrainNer)
    assert(PretrainedNer.weights.nonEmpty)
    val retrained = {
      val src = scala.io.Source.fromFile(
        "src/main/resources/graft/ner/org_train.conll")
      try graft.bdb.PerceptronNer.train(
        graft.tools.TrainNer.parseConll(src.getLines()))
      finally src.close()
    }
    assert(PretrainedNer.weights === retrained,
      "committed org_weights.tsv is stale — rerun graft.tools.TrainNer")
    // held-out names (absent from org_train.conll) in learned contexts
    assert(PretrainedNer.orgSpans("shipping from Cyberdyne Corp was fast")
      .contains("Cyberdyne Corp"))
    assert(PretrainedNer.orgSpans("the package from RiverStone arrived late")
      .contains("RiverStone"))
    // negatives: lowercase context and sentence-initial distractors
    assert(PretrainedNer.orgSpans("Decent value for the money").isEmpty)
    assert(PretrainedNer.orgSpans("Monday the box arrived broken")
      .forall(s => s != "Monday"))
    // the full q27 pipeline runs with extractor #4
    ready
    val pre = BdbQueries2
      .q27(spark, itemSk = 3, extractor = Ner.byName("pretrained")).collect()
    assert(pre.nonEmpty)
  }

  test("q10 with a file-loaded lexicon matches the built-in default") {
    ready
    // write the default lexicon as kit-style one-word-per-line files
    // (q10_dask_sql.py:94-104) and check the file path is equivalent
    val dir = java.nio.file.Files.createTempDirectory("lex").toFile
    val pos = new java.io.File(dir, "positiveSentiment.txt")
    val neg = new java.io.File(dir, "negativeSentiment.txt")
    def write(f: java.io.File, ws: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(f)
      try ws.foreach(w.println) finally w.close()
    }
    write(pos, BdbQueries1.defaultPositive)
    write(neg, BdbQueries1.defaultNegative)
    val fromFiles = BdbQueries1.q10(spark,
      BdbQueries1.lexFromFiles(pos.getAbsolutePath, neg.getAbsolutePath))
      .collect()
    val builtIn = BdbQueries1.q10(spark).collect()
    assert(fromFiles.toSeq == builtIn.toSeq)
    assert(builtIn.nonEmpty)
    // and Text.wordList round-trips the file for the q18/q19 scan path
    assert(graft.ops.Text.wordList(spark, neg.getAbsolutePath)
      == BdbQueries1.defaultNegative)
  }

  test("q05 scores after an Observation ran; same result as model.transform") {
    import org.apache.spark.ml.classification.{LogisticRegression,
      LogisticRegressionModel}
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    ready
    // a completed Observation puts a non-serializable ObservationManager
    // in the session, which a model's training summary reaches
    val obs = Observation()
    spark.range(0, 3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") === 3L)
    val got = BdbQueries1.q05(spark).collect().head
    // MLlib's own scoring of the same fit; a model loaded back from
    // disk carries no training summary, so its transform serializes
    val assembled = new VectorAssembler()
      .setInputCols(Array("clicks_total", "college_education", "male"))
      .setOutputCol("features").transform(BdbQueries1.q05Features(spark))
    val fit = new LogisticRegression().setRegParam(0.0).setMaxIter(100)
      .setTol(1e-9).setStandardization(true).fit(assembled)
    val dir = java.nio.file.Files.createTempDirectory("q05-model").toString
    fit.write.overwrite().save(dir)
    val pred = LogisticRegressionModel.load(dir).transform(assembled)
    val auc = new BinaryClassificationEvaluator()
      .setRawPredictionCol("rawPrediction").evaluate(pred)
    def n(c: org.apache.spark.sql.Column): Long = pred.filter(c).count()
    val p1 = col("prediction") === 1.0
    val l1 = col("label") === 1.0
    assert(got.getAs[Long]("n") === pred.count())
    assert(got.getAs[Long]("n_correct") === n(col("prediction") === col("label")))
    assert(got.getAs[Long]("tp") === n(p1 && l1))
    assert(got.getAs[Long]("fp") === n(p1 && !l1))
    assert(got.getAs[Long]("fn") === n(!p1 && l1))
    assert(got.getAs[Double]("auc") ===
      BigDecimal(auc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.getAs[Long]("tp") + got.getAs[Long]("fn") > 0)
  }

  test("q20's k-means fit plans its features once (job count)") {
    ready
    val (_, jobs) = JobCount(spark.sparkContext) {
      BdbQueries2.q20(spark).collect()
    }
    assert(jobs <= Q20Jobs, s"q20 ran $jobs jobs")
  }

  /** q20's jobs on the fixture with its features materialized once
    * (50 when the distinct count, the fit and the summary each
    * re-planned the feature pipeline). */
  private val Q20Jobs = 26
}
