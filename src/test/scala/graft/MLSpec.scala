package graft

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{FeaturePrep, Inference, ModelRegistry, Models, TemporalSplit}
import graft.monitoring.PerformanceTracker
import graft.operators.{Caches, TimeSeries}
import graft.sources.Tables

class MLSpec extends AnyFunSuite {
  import TestSession._

  /** Learnable supervised frame: label = discomfort index, a
    * deterministic function of (temperature, humidity) — models that
    * work must recover it with high R². */
  private lazy val frame: DataFrame = {
    val w = TimeSeries.weatherView(Tables.events(spark, sfDir))
    val withLabel = w.withColumn("label",
      col("temperature") - lit(0.55) * (lit(1) - lit(0.01) * col("humidity")) *
        (col("temperature") - lit(14.5)))
    FeaturePrep.assemble(withLabel,
      Seq("temperature", "humidity", "wind_speed")).cache()
  }

  private lazy val splitPair = TemporalSplit.split(frame)

  test("temporal split has no leakage and covers all rows") {
    val (train, test) = splitPair
    val maxTrain = train.agg(max("ts")).collect()(0).getTimestamp(0)
    val minTest = test.agg(min("ts")).collect()(0).getTimestamp(0)
    assert(maxTrain.before(minTest))
    assert(train.count() + test.count() == frame.count())
    val frac = train.count().toDouble / frame.count()
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
  }

  test("walk-forward folds expand and never leak") {
    val folds = TemporalSplit.walkForward(frame, k = 3)
    assert(folds.length == 3)
    var prevTrain = 0L
    folds.foreach { case (tr, te) =>
      val n = tr.count()
      assert(n > prevTrain, "train window must expand")
      prevTrain = n
      assert(te.count() > 0)
      val maxTr = tr.agg(max("ts")).collect()(0).getTimestamp(0)
      val minTe = te.agg(min("ts")).collect()(0).getTimestamp(0)
      assert(maxTr.before(minTe))
    }
  }

  test("walk-forward cut points from one sketch pass equal the per-fraction thresholds") {
    for (k <- Seq(1, 3, 5)) {
      val fracs = (1 to k + 1).map(i => i.toDouble / (k + 1))
      assert(TemporalSplit.thresholdsAt(frame, "ts", fracs) ==
        fracs.map(f => TemporalSplit.thresholdAt(frame, "ts", f)), s"k=$k")
    }
  }

  test("one-pass regression metrics are bit-identical to RegressionEvaluator") {
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    import org.apache.spark.ml.regression.LinearRegression
    val (train, test) = splitPair
    val pred = new LinearRegression().setMaxIter(20).fit(train).transform(test)
    val ev = new RegressionEvaluator()
    val got = Models.regressionMetrics(pred)
    assert(got.keySet == Set("mse", "rmse", "mae", "r2"))
    got.foreach { case (m, v) =>
      val want = ev.setMetricName(m).evaluate(pred)
      assert(java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(want), s"$m: $v != $want")
    }
  }

  test("walk-forward CV metrics: a mean and std per regression metric") {
    import graft.ml.Inference
    import graft.operators.TimeSeries
    val engineered = TimeSeries.featurePipeline(
      graft.sources.Tables.events(spark, sfDir), passthrough = Seq("ts"))
    val cv = Inference.walkForwardCvMetrics(Inference.labeled(engineered), k = 2)
    Seq("mse", "rmse", "mae").foreach { m =>
      assert(cv.contains(s"cv_$m") && cv.contains(s"cv_${m}_std"),
        s"missing cv pair for $m: ${cv.keySet}")
      assert(cv(s"cv_$m") >= 0 && !cv(s"cv_$m").isNaN)
      assert(cv(s"cv_${m}_std") >= 0)
    }
    // the CV estimate is a real error on held-out future windows —
    // same order of magnitude as a plain chronological holdout, not a
    // training-set echo
    val (_, holdout) = Inference.train(engineered)
    assert(cv("cv_rmse") > 0)
    assert(cv("cv_rmse") < holdout("rmse") * 10 + 10)
  }

  test("all six regressors train; linear family is near-exact") {
    val (train, test) = splitPair
    val results = Models.trainAll(train, test)
    assert(results.length == 6)
    val r2 = results.map { case (n, _, m) => n -> m("r2") }.toMap
    // label is linear in (t, h, t*h); linear/ridge on (t,h) alone still reach high R2
    assert(r2("linear") > 0.9, s"linear r2 ${r2("linear")}")
    assert(r2("random_forest") > 0.8, s"rf r2 ${r2("random_forest")}")
    assert(r2("gradient_boost") > 0.8, s"gbt r2 ${r2("gradient_boost")}")
    r2.values.foreach(v => assert(v > 0.3, s"some model failed badly: $r2"))
  }

  test("feature importances are a distribution over the feature names") {
    val (train, _) = splitPair
    val rf = Models.regressors().toMap.apply("random_forest")
    val model = rf.fit(train).asInstanceOf[org.apache.spark.ml.PredictionModel[_, _]]
    val imp = Models.featureImportance(model,
      Seq("temperature", "humidity", "wind_speed"))
    assert(imp.map(_._1) == Seq("temperature", "humidity", "wind_speed"))
    assert(math.abs(imp.map(_._2).sum - 1.0) < 1e-6)
    // label is a function of temperature+humidity; wind_speed is noise
    assert(imp.toMap.apply("temperature") > imp.toMap.apply("wind_speed"))
  }

  test("rain classifier achieves high AUC on a separable label") {
    val labeled = frame.withColumn("label",
      (col("temperature") + col("humidity") > 100).cast("double"))
    val (train, test) = TemporalSplit.split(labeled)
    val (_, auc) = Models.rainClassifier(train, test)
    assert(auc > 0.95, s"auc $auc")
  }

  test("stacking ensemble beats or matches the weakest base model") {
    val (train, test) = splitPair
    val base = Seq("linear", "random_forest").map { name =>
      val p = Models.regressors().toMap.apply(name)
      val m = p.fit(train).asInstanceOf[org.apache.spark.ml.PredictionModel[_, _]]
      name -> m.transform(test)
    }
    val (_, metrics) = Models.ensemble(base)
    val baseR2 = base.map { case (_, df) => Models.regressionMetrics(df)("r2") }
    assert(metrics("r2") >= baseR2.min - 0.05, s"ensemble ${metrics("r2")} vs $baseR2")
  }

  test("registry versions models and loads them back") {
    val dir = tempDir("graft-registry").toString
    val (train, test) = splitPair
    val lr = new org.apache.spark.ml.regression.LinearRegression().setMaxIter(10)
    val model = lr.fit(train)
    val reg = new ModelRegistry(dir)
    val v1 = reg.register("lr", model, Map("r2" -> 0.99))
    val v2 = reg.register("lr", model, Map("r2" -> 0.991))
    assert(v1 == 1 && v2 == 2)
    assert(reg.latestVersion("lr").contains(2))
    // the registering instance serves the model it kept (no Spark job);
    // a fresh instance reads the files back
    val tracker = PerformanceTracker.install(spark)
    val ((kept, keptRun), (fromDisk, diskRun)) =
      try (measured(tracker)(reg.load("lr", LinearRegressionModel)),
           measured(tracker)(new ModelRegistry(dir).load("lr", LinearRegressionModel)))
      finally PerformanceTracker.uninstall(spark, tracker)
    assert(keptRun.jobs == 0, keptRun.jobRows)
    assert(diskRun.jobs > 0)
    assert(!(kept eq model))
    val sums = Seq(model, kept, fromDisk).map(
      _.transform(test).agg(sum("prediction")).collect()(0).getDouble(0))
    assert(sums.distinct.size == 1, sums)
    // compare + integrity hash (model_registry.py compare/_file_hash parity)
    val cmp = reg.compare("lr", 1, 2)
    assert(math.abs(cmp("r2")._3 - 0.001) < 1e-9)
    val (_, _, path) = reg.entries.filter(_._1 == "lr").maxBy(_._2)
    assert(reg.artifactHash(java.nio.file.Paths.get(path)).length == 64)
  }

  test("ML fits read one materialized labeled frame: same metrics, bounded jobs, no leak") {
    val ev = Tables.events(spark, sfDir)
    val engineered = TimeSeries.featurePipeline(ev, passthrough = Seq("ts"))
    // the fit train ran before it materialized its input: straight off
    // the uncached labeled frame
    val (dTrain, dTest) = TemporalSplit.split(Inference.labeled(engineered))
    val direct = Models.regressionMetrics(
      Inference.scoringPipeline().fit(dTrain).transform(dTest))
    val reg = new ModelRegistry(tempDir("graft-ml-lock").toString)
    val tracker = PerformanceTracker.install(spark)
    // the call's run; every cache it made is gone when it returns
    def leakFree[T](body: => T): (T, PerformanceTracker.Run) = {
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      val tracked = Caches.trackedCount
      val out = measured(tracker)(body)
      assert(spark.sparkContext.getPersistentRDDs.keySet == rdds)
      assert(Caches.trackedCount == tracked)
      out
    }
    try {
      val ((model, metrics), trainRun) = leakFree(Inference.train(engineered))
      assert(metrics.keySet == direct.keySet)
      metrics.foreach { case (m, v) =>
        assert(java.lang.Double.doubleToRawLongBits(v) ==
          java.lang.Double.doubleToRawLongBits(direct(m)), s"$m: $v != ${direct(m)}")
      }
      val (_, cvRun) = leakFree(
        Inference.walkForwardCvMetrics(Inference.labeled(engineered), k = 1))
      reg.register("temperature", model, metrics)
      val (_, predictRun) = leakFree(GraftApi.predict(ev, reg).collect())
      // 28, 28 and 19 jobs when each fit pass re-ran the feature
      // windows and predict read the model back from disk
      assert(trainRun.jobs <= 20, trainRun.jobRows)
      assert(cvRun.jobs <= 20, cvRun.jobRows)
      assert(predictRun.jobs <= 6, predictRun.jobRows)
    } finally PerformanceTracker.uninstall(spark, tracker)
  }

  test("the forecaster learns a planted diurnal signal: beats mean and persistence") {
    import spark.implicits._
    // per entity, hourly: 10·sin(2πh/24) + AR(1) (φ = 0.6, σ = 1.5) +
    // white noise (σ = 0.5). At the 24-step horizon the AR part has
    // decorrelated (0.6^24 ≈ 5e-6), so the best forecast is the diurnal
    // curve, RMSE ≈ √(1.5²/(1−0.6²) + 0.5²) ≈ 1.94; the mean baseline
    // sits near √(50 + 3.77) ≈ 7.3 and 24-step persistence (the value
    // one period before the target) near √(2 · 3.77) ≈ 2.75. Measured:
    // model 1.88, mean 7.41, persistence 2.58
    val rng = new scala.util.Random(7)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1 to 6).flatMap { user =>
      var ar = 0.0
      (0 until 24 * 30).map { i =>
        ar = 0.6 * ar + 1.5 * rng.nextGaussian()
        val v = 10 * math.sin(2 * math.Pi * (i % 24) / 24) + ar + 0.5 * rng.nextGaussian()
        (user * 100000L + i, user.toLong, v, new java.sql.Timestamp(t0 + i * 3600000L))
      }
    }
    val events = rows.toDF("event_id", "user_id", "value", "ts")
    val engineered = TimeSeries.featurePipeline(events, passthrough = Seq("ts"))
    val (model, metrics) = Inference.train(engineered)
    val (trainDf, testDf) = TemporalSplit.split(Inference.labeled(engineered))
    val trainMean = trainDf.agg(avg("label")).collect()(0).getDouble(0)
    def rmse(pred: org.apache.spark.sql.Column): Double =
      math.sqrt(testDf.agg(avg(pow(col("label") - pred, 2))).collect()(0).getDouble(0))
    val meanRmse = rmse(lit(trainMean))
    val persistRmse = rmse(col("value"))
    assert(metrics("rmse") < 0.5 * meanRmse, s"${metrics("rmse")} vs mean $meanRmse")
    assert(metrics("rmse") < 0.85 * persistRmse, s"${metrics("rmse")} vs persistence $persistRmse")
    // the hour and lag features (and the current value, which carries
    // the same phase) hold the top six places; the calendar day, the
    // 24-step rolling stats (one whole period: flat) and the 1-step
    // change rank below all of them
    val rf = model.stages.last.asInstanceOf[org.apache.spark.ml.PredictionModel[_, _]]
    val ranked = Models.featureImportance(rf, Inference.defaultFeatures).sortBy(-_._2).map(_._1)
    assert(Set("hour", "hour_sin", "hour_cos")(ranked.head), ranked)
    assert(ranked.take(6).toSet == Set("hour", "hour_sin", "hour_cos",
      "value_lag_1", "value_lag_24", "value"), ranked)
  }

  test("grid-search tuning returns a fitted best model") {
    val (train, _) = splitPair
    val sample = train.limit(500)
    val (best, metric) = Models.tuneRandomForest(sample)
    assert(metric > 0.5, s"cv r2 $metric")
    assert(best.stages.nonEmpty)
  }
}
