package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Caches

/** Batch inference — Spark realization of the reference's
  * load-latest-model → engineer-features → emit-predictions chain
  * (weather_predictor.py:495-508 predict, dashboard.py:282-310
  * predict_temperature / engineer_features_for_prediction).
  *
  * The reference applies the TRAIN-time scaler to fresh rows
  * (`self.scaler.transform`, never refit). Here that contract is
  * carried by making scaling a stage of the persisted artifact: the
  * registered model is a `PipelineModel` of
  * VectorAssembler → StandardScaler → RandomForestRegressor, so
  * `ModelRegistry.load` restores the scaler's fitted means/stds along
  * with the trees and scoring fresh data is a single `transform` —
  * no side-channel stats file to version or forget.
  *
  * Scale notes: training fits on the engineered frame (one entity
  * window shuffle); scoring is a pure map over the input (assembler +
  * scaler + forest are all per-row once the model is broadcast by
  * MLlib's transform). The latest-per-entity selection is the same
  * row_number window as Analytics.latestPerKey — one shuffle on the
  * entity key.
  */
object Inference {

  /** Feature columns of [[graft.operators.TimeSeries.featurePipeline]]
    * used for temperature-style prediction (the reference's
    * feature_columns metadata, fixed at train time). */
  val defaultFeatures: Seq[String] = Seq(
    "value", "hour", "day_of_week", "hour_sin", "hour_cos",
    "value_lag_1", "value_lag_24", "rolling_mean_24", "rolling_std_24",
    "value_change")

  /** Null→0 fill on the feature columns (the reference's
    * `X[feature_columns].fillna(0)` at both train and predict time). */
  def fillZeros(df: DataFrame, featureCols: Seq[String]): DataFrame =
    df.na.fill(0.0, featureCols)

  /** Assembler → scaler → random-forest pipeline; everything a scorer
    * needs persists inside the one artifact. */
  def scoringPipeline(featureCols: Seq[String] = defaultFeatures,
                      labelCol: String = "label", seed: Long = 42L): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("rawFeatures")
      .setHandleInvalid("keep")
    val scaler = new StandardScaler()
      .setInputCol("rawFeatures").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val rf = new RandomForestRegressor()
      .setNumTrees(50).setMaxDepth(8).setSeed(seed)
      .setLabelCol(labelCol).setFeaturesCol("features")
    new Pipeline().setStages(Array(assembler, scaler, rf))
  }

  /** Train the scoring pipeline on the engineered frame: label rows
    * with a defined target (the last horizon rows of each entity have
    * none — the reference's dropna), split chronologically, fit, and
    * evaluate on the held-out tail. Returns the fitted pipeline and
    * its test metrics (mse/rmse/mae/r2). The labeled frame is
    * computed once for the whole fit ([[onMaterialized]]). */
  def train(engineered: DataFrame,
            featureCols: Seq[String] = defaultFeatures,
            targetCol: String = "value_future",
            tsCol: String = "ts", seed: Long = 42L)
      : (PipelineModel, Map[String, Double]) =
    onMaterialized("Inference.train", labeled(engineered, featureCols, targetCol)) { lab =>
      val (trainDf, testDf) = TemporalSplit.split(lab, tsCol)
      val model = scoringPipeline(featureCols, seed = seed).fit(trainDf)
      (model, Models.regressionMetrics(model.transform(testDf)))
    }

  /** Runs `fit` on `df` computed once ([[Caches.materialize]]) in a
    * scope of its own, and releases that scope when `fit` returns or
    * throws. Every pass of a fit (split sketch, scaler stats, forest
    * metadata and bagging, the holdout score) then reads the same
    * rows, in AQE's final partitions, instead of re-running the
    * feature windows and the global sort. `fit` must not return
    * anything that still reads its input frame. */
  private def onMaterialized[T](name: String, df: DataFrame)(fit: DataFrame => T): T = {
    val scope = Caches.newScope(name)
    try Caches.in(scope)(fit(Caches.materialize(df)))
    finally Caches.release(scope)
  }

  /** The labeled training frame [[train]] fits on — rows with a
    * defined target (the reference's dropna), zero-filled features,
    * target aliased to `label`. Shared with the CV folds so both
    * evaluate the same population. */
  private[graft] def labeled(engineered: DataFrame,
                             featureCols: Seq[String] = defaultFeatures,
                             targetCol: String = "value_future"): DataFrame =
    fillZeros(engineered, featureCols)
      .filter(col(targetCol).isNotNull)
      .withColumn("label", col(targetCol))

  /** Walk-forward cross-validation of the scoring pipeline
    * (weather_predictor.py:107-172's time-respecting CV): fit one
    * model per expanding-window fold ([[TemporalSplit.walkForward]] —
    * each test window FOLLOWS its train window, so no fold ever
    * trains on the future), evaluate on the fold's test window, and
    * report each regression metric's mean (`cv_<m>`) and population
    * std (`cv_<m>_std`) across folds. NaN folds (e.g. r² on a
    * zero-variance window) are excluded from that metric's
    * aggregation; a metric NaN in every fold is omitted. All folds
    * read `labeled` computed once ([[onMaterialized]]). */
  def walkForwardCvMetrics(labeled: DataFrame, k: Int = 3,
                           featureCols: Seq[String] = defaultFeatures,
                           tsCol: String = "ts", seed: Long = 42L)
      : Map[String, Double] = {
    require(k > 0, s"cv folds must be positive: $k")
    val perFold = onMaterialized("Inference.walkForwardCvMetrics", labeled) { lab =>
      TemporalSplit.walkForward(lab, tsCol, k).map { case (tr, te) =>
        val m = scoringPipeline(featureCols, seed = seed).fit(tr)
        Models.regressionMetrics(m.transform(te))
      }
    }
    perFold.flatMap(_.keySet).distinct.flatMap { key =>
      val vs = perFold.flatMap(_.get(key)).filterNot(_.isNaN)
      if (vs.isEmpty) Seq.empty
      else {
        val mean = vs.sum / vs.size
        val std = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / vs.size)
        Seq(s"cv_$key" -> mean, s"cv_${key}_std" -> std)
      }
    }.toMap
  }

  /** Score the newest row of every entity with a fitted pipeline —
    * dashboard.predict_temperature generalized from one city to all
    * entities in one pass. Emits the reference's response fields:
    * current value, predicted value, and the delta.
    *
    * The newest-row selection is a map-side-combined key aggregate
    * (`max(struct(orderCol, event_id))` per entity — the r14/r15
    * struct-extremum pattern) joined back, NOT a row_number window:
    * only |entities| (key, ts, event_id) triples move through the
    * aggregate, and AQE turns the join back into a broadcast hash
    * join whenever the key table's runtime size allows (always at
    * test scale; see the in-code note on the static-estimate SMJ
    * map-write it may pay first), degrading to a shuffle join when
    * the distinct-entity count outgrows broadcast limits. The window
    * form exchanged AND sorted every engineered row unconditionally. Selection ties match the window's desc/desc
    * order exactly ((ts, event_id) is unique per entity by
    * construction — event_id is the primary key). */
  def predictLatest(engineered: DataFrame, model: PipelineModel,
                    featureCols: Seq[String] = defaultFeatures,
                    keyCol: String = "user_id", orderCol: String = "ts")
      : DataFrame = {
    val latestKeys = engineered
      .groupBy(col(keyCol))
      .agg(max(struct(col(orderCol), col("event_id"))).as("_k"))
      .select(col(keyCol), col("_k")(orderCol).as(orderCol),
        col("_k.event_id").as("event_id"))
    // null-safe <=> on keyCol AND orderCol: a null entity key survives
    // the groupBy (one null-key group), and an entity whose newest row
    // has a null order value (struct max ranks null fields lowest, so
    // it wins only when ALL rows are null-ordered) must still join
    // back — plain equality would silently drop either, where the old
    // row_number window emitted a rank-1 row for both. event_id is the
    // table's non-null primary key, so === is exact there.
    //
    // No broadcast hint (r16, ADVICE): latestKeys is one row per
    // DISTINCT ENTITY — at the 100 TB target that can exceed broadcast
    // and driver limits. AQE picks the broadcast join from the
    // aggregate's RUNTIME size whenever the key table is small and
    // degrades to a shuffle join when it is not — the graceful path
    // the window form had. Known cost of hintlessness: when the
    // STATIC size estimate exceeds the broadcast threshold, the
    // initial plan is a sort-merge join and the wide frame's shuffle
    // MAP WRITE happens before AQE demotes to broadcast with a local
    // read — one extra write pass in the small-entity case, accepted
    // in exchange for never broadcasting an unbounded key table.
    val latest = engineered.alias("e").join(
      latestKeys.alias("k"),
      col(s"e.$keyCol") <=> col(s"k.$keyCol") &&
        col(s"e.$orderCol") <=> col(s"k.$orderCol") &&
        col("e.event_id") === col("k.event_id"))
      .select(col("e.*"))
    model.transform(fillZeros(latest, featureCols))
      .select(col(keyCol),
        col("event_id"),
        col("value").as("current_value"),
        col("prediction").as("predicted_value"),
        (col("prediction") - col("value")).as("predicted_change"))
      .orderBy(keyCol)
  }
}
