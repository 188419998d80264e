package graft.ml

import graft.Tables
import graft.Ops.{Entry, Q}
import graft.operators.Cleaning

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ML surface (SURVEY §2.12): features -> StringIndexer×n -> OHE ->
  * VectorAssembler -> GBT -> RegressionEvaluator, mirroring the reference's
  * `ex05_ml_prediction_service/src/trainer.py:78-152` and
  * `src/features.py:21-76`, re-expressed on `org.apache.spark.ml` (Scala) so
  * the py4j boundary disappears (SURVEY §3.3).
  */
object FarePipeline {

  /** Feature engineering over the lineitem feed: derived numerics +
    * quality filter (P4) + dropna (P5) + anti-leakage drop (P6). */
  def features(li: DataFrame): DataFrame =
    li.withColumn("ship_month", month(col("l_shipdate")))
      .withColumn("ship_dow", dayofweek(col("l_shipdate")))
      .withColumn("gross", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      // The synthetic lineitem's price columns are statistically independent
      // of every feature (corr ~ 0.003), so a fare-style label is constructed
      // from trip-shaped components the model must learn (the reference's
      // total_amount is likewise a near-deterministic function of its
      // features — distance, duration, surcharges).
      .withColumn("label",
        col("l_quantity") * 100.0 + col("l_discount") * 10000.0 +
          col("ship_month") * 50.0 + col("ship_dow") * 10.0)
      // P4-style quality window: positive quantity, sane price
      .filter(col("l_quantity") > 0 && col("l_quantity") <= 200 &&
        col("l_extendedprice") >= 0)
      // P5: drop rows null in any modeling column
      .na.drop(Seq("l_quantity", "l_discount", "l_returnflag", "l_linestatus",
        "ship_month", "ship_dow", "label"))
      // P6: drop leakage columns (components of the label)
      .drop("l_tax", "gross")

  /** M1-M4 assembled as one Pipeline (trainer.py:78-109). */
  def buildPipeline(categorical: Seq[String], numeric: Seq[String],
                    labelCol: String, maxDepth: Int = 6, maxIter: Int = 50,
                    seed: Long = 42L): Pipeline = {
    val indexers = categorical.map(c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx")
        .setHandleInvalid("keep"))
    val encoder = new OneHotEncoder()
      .setInputCols(categorical.map(c => s"${c}_idx").toArray)
      .setOutputCols(categorical.map(c => s"${c}_ohe").toArray)
    val assembler = new VectorAssembler()
      .setInputCols((categorical.map(c => s"${c}_ohe") ++ numeric).toArray)
      .setOutputCol("features").setHandleInvalid("keep")
    val gbt = new GBTRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setMaxDepth(maxDepth).setMaxIter(maxIter).setSeed(seed)
    new Pipeline().setStages((indexers :+ encoder :+ assembler :+ gbt).toArray)
  }

  /** M6 — rmse/mae/r2 (trainer.py:130-152). */
  def evaluate(predictions: DataFrame, labelCol: String): Map[String, Double] = {
    def ev(metric: String) = new RegressionEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName(metric)
      .evaluate(predictions)
    Map("rmse" -> ev("rmse"), "mae" -> ev("mae"), "r2" -> ev("r2"))
  }

  /** S10 — model persistence roundtrip. */
  def save(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)
  def load(path: String): PipelineModel = PipelineModel.load(path)

  /** Train/evaluate end-to-end with the reference's M9 persist discipline
    * (cache train/test before count+fit, trainer.py:185-190). */
  def trainEval(data: DataFrame, labelCol: String, maxDepth: Int, maxIter: Int)
      : (PipelineModel, Map[String, Double]) = {
    val categorical = Seq("l_returnflag", "l_linestatus")
    val numeric = Seq("l_quantity", "l_discount", "ship_month", "ship_dow")
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), 42L)
    train.persist(); test.persist()
    try {
      val model = buildPipeline(categorical, numeric, labelCol,
        maxDepth = maxDepth, maxIter = maxIter).fit(train)
      (model, evaluate(model.transform(test), labelCol))
    } finally { train.unpersist(); test.unpersist() }
  }

  /** Hyperparameter search via k-fold cross validation — the model
    * selection step the reference tunes by hand (trainer.py fixes
    * maxDepth/maxIter): a small maxDepth grid scored by CV rmse, the
    * winner refit on the full training set. Parallelism 2 evaluates grid
    * points concurrently (each point is itself a distributed fit — at
    * scale the grid parallelism multiplies cluster utilization, not
    * driver work). Seeded end-to-end; the chosen params are exposed for
    * the suite to pin. */
  def crossValidate(data: DataFrame, labelCol: String,
                    depthGrid: Seq[Int], maxIter: Int, folds: Int = 2)
      : (org.apache.spark.ml.tuning.CrossValidatorModel, Int) = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val categorical = Seq("l_returnflag", "l_linestatus")
    val numeric = Seq("l_quantity", "l_discount", "ship_month", "ship_dow")
    val pipeline = buildPipeline(categorical, numeric, labelCol, maxIter = maxIter)
    val gbt = pipeline.getStages.last.asInstanceOf[GBTRegressor]
    val grid = new ParamGridBuilder()
      .addGrid(gbt.maxDepth, depthGrid).build()
    val cv = new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol(labelCol).setPredictionCol("prediction")
        .setMetricName("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(folds).setParallelism(2).setSeed(42L)
    val model = cv.fit(data)
    val bestDepth = model.bestModel.asInstanceOf[PipelineModel]
      .stages.last.asInstanceOf[org.apache.spark.ml.regression.GBTRegressionModel]
      .getMaxDepth
    (model, bestDepth)
  }

  // ---------------------------------------------------------------- entries

  /** Feature stage output — deterministic, oracle-checked. */
  private val mlFeaturesQ: Q = (s, dir) =>
    features(Tables(s, dir).lineitem)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_returnflag"), col("l_linestatus"),
        col("ship_month"), col("ship_dow"), round(col("label"), 4).as("label"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Full GBT train+eval on the sf dir (small maxIter so Verify stays fast;
    * metric thresholds are asserted in the test suite per SURVEY §7.5 —
    * seeded GBT is not bit-stable across engines => rows-only). */
  private val mlGbtMetricsQ: Q = (s, dir) => {
    import s.implicits._
    val (_, m) = trainEval(features(Tables(s, dir).lineitem), "label",
      maxDepth = 5, maxIter = 10)
    Seq(("rmse", m("rmse")), ("mae", m("mae")), ("r2", m("r2")))
      .toDF("metric", "value").orderBy("metric")
  }

  /** Batch inference as a graded surface (the reference's scoring path,
    * `ex05_ml_prediction_service/src/predict.py:28-35`: 2.81M rows in one
    * `model.transform` pass, `reports/predict_report.json`). Fit once with a
    * small ensemble, score the WHOLE sf dir, return driver-visible scoring
    * stats. Predictions are seed/engine-specific => rows-only; the
    * throughput floor is asserted in MlSpec. */
  private val mlBatchInferenceQ: Q = (s, dir) => {
    val data = features(Tables(s, dir).lineitem)
    val model = buildPipeline(Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_discount", "ship_month", "ship_dow"), "label",
      maxDepth = 3, maxIter = 5).fit(data)
    model.transform(data).agg(
      count(lit(1)).as("n_scored"),
      sum(when(col("prediction") >= 0, 1L).otherwise(0L)).as("n_nonneg"),
      round(avg(abs(col("prediction") - col("label"))), 2).as("mae_insample"))
  }

  /** Inverse-frequency class weights — the imbalance correction every
    * classifier training run computes before fit: weight(c) =
    * n_total / (n_classes * n_c), so a balanced dataset gets weight 1.0
    * everywhere and rare classes are up-weighted proportionally. One
    * keyed counting aggregate + a broadcast-sized scalar join; the
    * weights frame is class-count-sized and joins back onto training
    * rows for a `weightCol` at any corpus scale. */
  private val mlClassWeightsQ: Q = (s, dir) => {
    val counts = Tables(s, dir).embeddings
      .groupBy("label").agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum("n").as("total"),
      count(lit(1)).as("n_classes"))
    counts.crossJoin(broadcast(totals))
      .select(col("label"), col("n"),
        round(col("total").cast(org.apache.spark.sql.types.DoubleType)
          / (col("n_classes") * col("n")), 6).as("class_weight"))
      .orderBy("label")
  }

  /** Smoothed target-mean encoding of a categorical feature — the
    * high-cardinality-safe alternative to one-hot (M2): each category is
    * encoded as a shrunk mean of the target,
    * `enc(c) = (S_c + m·μ) / (n_c + m)` with global prior μ and
    * smoothing mass m, so rare categories pull toward the prior instead
    * of memorizing noise. All sums ride exact DECIMAL and μ is rounded
    * BEFORE it feeds the encoding, so both engines compute the final
    * arithmetic on identical doubles. One keyed aggregate + a
    * broadcast-sized scalar join — the encoder table is category-count-
    * sized and joins back onto training rows at any corpus scale. */
  private val mlTargetEncodingQ: Q = (s, dir) => {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val m = 100.0
    val e = Tables(s, dir).events.filter(col("value").isNotNull)
    val perClass = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("s"))
    val global = e.agg(
      round(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
        / count(lit(1)), 6).as("mu"))
    perClass.crossJoin(broadcast(global))
      .select(col("event_type"), col("n"),
        round((col("s") + lit(m) * col("mu")) / (col("n") + lit(m)), 6)
          .as("enc_smoothed"),
        col("mu").as("global_mean"))
      .orderBy("event_type")
  }

  val entries: Seq[Entry] = Seq(
    Entry("ml_target_encoding", mlTargetEncodingQ, Some(
      """WITH c AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |g AS (
        |  SELECT round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |               / count(*), 6) AS mu
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, n,
        |       round((s + 100.0 * mu) / (n + 100.0), 6) AS enc_smoothed,
        |       mu AS global_mean
        |FROM c, g ORDER BY event_type""".stripMargin), headline = true),
    Entry("ml_class_weights", mlClassWeightsQ, Some(
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |t AS (SELECT sum(n) AS total, count(*) AS n_classes FROM c)
        |SELECT label, n,
        |       round(CAST(total AS DOUBLE) / (n_classes * n), 6) AS class_weight
        |FROM c, t ORDER BY label""".stripMargin), headline = true),
    // model metrics are seed/engine-specific
    Entry("ml_gbt_metrics", mlGbtMetricsQ, None),
    // predictions engine-specific
    Entry("ml_batch_inference", mlBatchInferenceQ, None),
    Entry("ml_features", mlFeaturesQ, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        |       l_returnflag, l_linestatus,
        |       CAST(month(l_shipdate) AS INT) AS ship_month,
        |       CAST(dayofweek(l_shipdate) + 1 AS INT) AS ship_dow,
        |       round(l_quantity * 100.0 + l_discount * 10000.0 +
        |             CAST(month(l_shipdate) AS INT) * 50.0 +
        |             CAST(dayofweek(l_shipdate) + 1 AS INT) * 10.0, 4) AS label
        |FROM lineitem
        |WHERE l_quantity > 0 AND l_quantity <= 200 AND l_extendedprice >= 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
  )
}
