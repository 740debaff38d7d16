package graft.ops

import org.apache.spark.ml.classification.{LogisticRegression,
  LogisticRegressionModel, NaiveBayes}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** MLlib-backed model-fitting pipelines — the parity paths for the
  * reference's iterated/optimized ML (k-means fit, logistic
  * regression, multinomial naive bayes, hashing vectorizer;
  * `bdb_tools/utils.py:957-1018`, `bdb_tools/q05_utils.py:37-43`,
  * `bdb_tools/q28_utils.py:36-82`). Model outputs are
  * optimizer-dependent, so these verify via metric thresholds
  * (MlThresholdSpec), exactly the reference's stance
  * (`bdb_tools/utils.py:517-581`). The hash-exact, oracle-gated
  * counterparts live in [[graft.queries.MlQueries]].
  */
object MlPipelines {

  private def embs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** embeddings with an ML Vector column. */
  def withVec(df: DataFrame): DataFrame =
    df.withColumn("features",
      array_to_vector(col("embedding").cast("array<float>")))

  /** Full MLlib K-means (k=8, maxIter=20, fixed seed) — cluster size
    * distribution + WSSSE (trainingCost), the reference's
    * verification metric (utils.py:517-545).
    */
  def kmeansMllib(s: SparkSession, d: String): DataFrame = {
    val data = withVec(embs(s, d))
    val km = new KMeans().setK(8).setMaxIter(20).setSeed(42L)
      .setFeaturesCol("features")
    val model = km.fit(data)
    val cost = model.summary.trainingCost
    val sizes = model.summary.predictions
      .groupBy("prediction").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("prediction"))
      .withColumn("size_rank",
        row_number().over(Window.orderBy(desc("n"), col("prediction"))))
    sizes.select(col("size_rank"), col("n"))
      .withColumn("wssse", round(lit(cost), 3))
  }

  /** A binary logistic model's margin, w·x + b, as a Column over one
    * Column per feature, summed in feature order. `margin > 0` is the
    * model's default 0.5 probability threshold, and the margin is the
    * `rawPrediction` score `BinaryClassificationEvaluator` ranks by.
    * Scoring with it instead of `model.transform` keeps the model out
    * of the task closure: a fitted model's training summary holds the
    * session, which does not serialize once an `Observation` has run
    * in it.
    */
  def logregMargin(model: LogisticRegressionModel,
      features: Seq[Column]): Column = {
    require(features.length == model.numFeatures,
      s"${features.length} feature columns for ${model.numFeatures} coefficients")
    features.zip(model.coefficients.toArray)
      .map { case (x, w) => x.cast("double") * lit(w) }
      .reduce(_ + _) + lit(model.intercept)
  }

  /** Logistic regression (no penalty, 100 iter, tol 1e-9,
    * standardization on) — label = upper half of the label space;
    * outputs precision / AUC / confusion counts like the reference's
    * q05 metrics block (q05_utils.py:75-120).
    */
  def logregMllib(s: SparkSession, d: String): DataFrame = {
    val data = withVec(embs(s, d))
      .withColumn("y", when(col("label") >= 5, 1.0).otherwise(0.0))
    val train = data.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val test = data.filter(pmod(col("vec_id"), lit(10)) === 0)
    val lr = new LogisticRegression().setRegParam(0.0).setMaxIter(100)
      .setTol(1e-9).setLabelCol("y").setFeaturesCol("features")
    val model = lr.fit(train)
    val emb = col("embedding").cast("array<float>")
    val margin = logregMargin(model,
      (1 to model.numFeatures).map(i => element_at(emb, i)))
    val pred = test.select(col("y"), margin.as("margin"))
      .withColumn("prediction", when(col("margin") > 0, 1.0).otherwise(0.0))
    val auc = new BinaryClassificationEvaluator().setLabelCol("y")
      .setRawPredictionCol("margin").evaluate(pred)
    pred.agg(
      count(lit(1)).as("n_test"),
      sum(when(col("prediction") === col("y"), 1).otherwise(0)).as("n_correct"),
      sum(when(col("prediction") === 1.0 && col("y") === 1.0, 1).otherwise(0)).as("tp"),
      sum(when(col("prediction") === 1.0 && col("y") === 0.0, 1).otherwise(0)).as("fp"),
      sum(when(col("prediction") === 0.0 && col("y") === 1.0, 1).otherwise(0)).as("fn"),
      sum(when(col("prediction") === 0.0 && col("y") === 0.0, 1).otherwise(0)).as("tn"))
      .withColumn("auc", round(lit(auc), 4))
  }

  /** Multinomial naive bayes (alpha=0.001) on hashed text features;
    * 90/10 split via doc_id % 10 (the reference's modulo split,
    * q28_dask_sql.py:39-56). Returns the test confusion matrix.
    */
  def naiveBayesMllib(s: SparkSession, d: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val langIdx = langs.zipWithIndex
      .foldLeft(lit(-1.0)) { case (acc, (l, i)) =>
        when(col("lang") === l, lit(i.toDouble)).otherwise(acc)
      }
    val feats = new HashingTF().setInputCol("wordarr")
      .setOutputCol("features").setNumFeatures(1 << 18)
    val data = feats.transform(
      docs(s, d).withColumn("wordarr", Text.tokens(col("text")))
        .withColumn("y", langIdx))
    val train = data.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val test = data.filter(pmod(col("doc_id"), lit(10)) === 0)
    val nb = new NaiveBayes().setSmoothing(0.001)
      .setModelType("multinomial").setLabelCol("y")
      .setFeaturesCol("features")
    val pred = nb.fit(train).transform(test)
    pred.groupBy(col("y").as("true_lang"), col("prediction").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }

  /** MLlib HashingTF surface (1-gram, 2^18 features) — per-doc
    * non-zero feature count + total term mass (q28_utils.py:36-71).
    */
  def hashingTfMllib(s: SparkSession, d: String): DataFrame = {
    val feats = new HashingTF().setInputCol("wordarr")
      .setOutputCol("features").setNumFeatures(1 << 18)
    import org.apache.spark.ml.linalg.Vector
    val data = feats.transform(
      docs(s, d).withColumn("wordarr", Text.tokens(col("text"))))
    val nnz = udf((v: Vector) => v.numNonzeros)
    // sum over ACTIVE entries only — v.toArray would densify the
    // 2^18-dim vector per row (gigabytes of allocation at sf0.1)
    val mass = udf { (v: Vector) =>
      var s = 0.0; v.foreachActive((_, x) => s += x); s
    }
    data.select(col("doc_id"), nnz(col("features")).as("nnz"),
      round(mass(col("features")), 2).as("term_mass"))
      .orderBy("doc_id")
  }
}
