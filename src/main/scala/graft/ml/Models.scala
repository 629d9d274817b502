package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PredictionModel, Predictor}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.regression._
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.mllib.evaluation.RegressionMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model zoo + evaluation — Spark MLlib realization of
  * weather_predictor.py:198-228 (six regressors), :313-391 (rain
  * classifier with class balancing + ROC-AUC), :242-254 (metrics),
  * :393-446 (grid-search tuning) and :448-493 (stacking ensemble).
  *
  * Mapping notes: sklearn Ridge → LinearRegression(regParam, L2);
  * xgboost analog → a second GBT config; sklearn MLPRegressor →
  * FMRegressor (MLlib ships no MLP regressor). All trainers consume a
  * `features` vector + `label` column prepared by FeaturePrep.
  */
object Models {

  /** The six regressor configs of the reference, by name. */
  def regressors(seed: Long = 42L): Seq[(String, Predictor[_, _, _])] = Seq(
    "linear" -> new LinearRegression().setMaxIter(50),
    "ridge" -> new LinearRegression().setMaxIter(50)
      .setRegParam(1.0).setElasticNetParam(0.0),
    "random_forest" -> new RandomForestRegressor()
      .setNumTrees(50).setMaxDepth(8).setSeed(seed),
    "gradient_boost" -> new GBTRegressor()
      .setMaxIter(30).setMaxDepth(5).setStepSize(0.1).setSeed(seed),
    "xgboost_analog" -> new GBTRegressor()
      .setMaxIter(50).setMaxDepth(6).setStepSize(0.05)
      .setSubsamplingRate(0.8).setSeed(seed),
    "mlp_analog" -> new FMRegressor()
      .setFactorSize(8).setStepSize(0.05).setMaxIter(50).setSeed(seed))

  /** Per-feature importances of a fitted tree-ensemble model, paired
    * with the feature names in vector order (weather_predictor.py's
    * feature_importance storage). Empty for non-tree models — the
    * reference stores importances only where the estimator has them. */
  def featureImportance(model: PredictionModel[_, _],
                        features: Seq[String]): Seq[(String, Double)] =
    model match {
      case m: RandomForestRegressionModel => features.zip(m.featureImportances.toArray)
      case m: GBTRegressionModel          => features.zip(m.featureImportances.toArray)
      case _                              => Seq.empty
    }

  /** Train every regressor on `train`, score on `test` → (name, model,
    * metrics). */
  def trainAll(train: DataFrame, test: DataFrame, seed: Long = 42L)
      : Seq[(String, PredictionModel[_, _], Map[String, Double])] =
    regressors(seed).map { case (name, p) =>
      val model = p.fit(train).asInstanceOf[PredictionModel[_, _]]
      val pred = model.transform(test)
      (name, model, regressionMetrics(pred))
    }

  /** mse / rmse / mae / r2 (weather_predictor.py:242-254) from ONE
    * pass over the predictions. Each `RegressionEvaluator.evaluate`
    * call re-executes the whole prediction lineage for one metric; this
    * builds the same `RegressionMetrics` the evaluator builds (double
    * casts, unit weights, not through the origin) once and reads all
    * four from its single summary, so the values are bit-identical. */
  def regressionMetrics(pred: DataFrame, labelCol: String = "label",
                        predCol: String = "prediction"): Map[String, Double] = {
    val m = new RegressionMetrics(
      pred.select(col(predCol).cast("double"), col(labelCol).cast("double"), lit(1.0))
        .rdd.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))))
    Map("mse" -> m.meanSquaredError, "rmse" -> m.rootMeanSquaredError,
      "mae" -> m.meanAbsoluteError, "r2" -> m.r2)
  }

  /** Rain classifier (weather_predictor.py:313-391): RandomForest with
    * inverse-frequency class weights (sklearn class_weight='balanced')
    * and ROC-AUC evaluation. Weights come from one count aggregate. */
  def rainClassifier(train: DataFrame, test: DataFrame, seed: Long = 42L)
      : (PipelineModel, Double) = {
    val counts = train.groupBy("label").count().collect()
      .map(r => r.getAs[Double]("label") -> r.getAs[Long]("count")).toMap
    val total = counts.values.sum.toDouble
    val nClasses = counts.size
    val weighted = train.withColumn("w",
      counts.foldLeft(lit(1.0)) { case (acc, (cls, n)) =>
        when(col("label") === cls, lit(total / (nClasses * n))).otherwise(acc)
      })
    val rf = new RandomForestClassifier()
      .setNumTrees(50).setMaxDepth(8).setSeed(seed).setWeightCol("w")
    val model = new Pipeline().setStages(Array(rf)).fit(weighted)
    val auc = new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC")
      .evaluate(model.transform(test))
    (model, auc)
  }

  /** Stacking ensemble (weather_predictor.py:448-493): base-model
    * predictions become the meta-features of a LinearRegression
    * trained on held-out (test-side) predictions. */
  def ensemble(basePreds: Seq[(String, DataFrame)], keyCol: String = "event_id")
      : (DataFrame, Map[String, Double]) = {
    val joined = basePreds.map { case (name, df) =>
      df.select(col(keyCol), col("label"), col("prediction").as(s"pred_$name"))
    }.reduce { (a, b) => a.join(b.drop("label"), keyCol) }
    val metaCols = basePreds.map { case (name, _) => s"pred_$name" }
    val assembled = FeaturePrep.assemble(joined, metaCols, out = "features")
    val meta = new LinearRegression().setMaxIter(50).fit(assembled)
    val pred = meta.transform(assembled)
    (pred, regressionMetrics(pred))
  }

  /** Grid-search tuning (weather_predictor.py:393-446) via
    * CrossValidator — returns the best model and its CV metric. */
  def tuneRandomForest(train: DataFrame, nFolds: Int = 2, seed: Long = 42L)
      : (PipelineModel, Double) = {
    val rf = new RandomForestRegressor().setSeed(seed)
    val pipe = new Pipeline().setStages(Array(rf))
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, Array(10, 30))
      .addGrid(rf.maxDepth, Array(4, 8))
      .build()
    val cv = new CrossValidator()
      .setEstimator(pipe)
      .setEvaluator(new RegressionEvaluator().setMetricName("r2"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(nFolds)
      .setParallelism(4)
      .setSeed(seed)
    val model = cv.fit(train)
    (model.bestModel.asInstanceOf[PipelineModel], model.avgMetrics.max)
  }
}
