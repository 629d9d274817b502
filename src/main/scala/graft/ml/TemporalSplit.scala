package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chronological train/test splitting — Spark realization of
  * weather_predictor.py:71-105 (temporal split, no leakage) and
  * :107-172 (walk-forward / expanding-window TimeSeriesSplit CV).
  *
  * Split points are timestamp thresholds from a percentile sketch —
  * one pass, no global sort, no row numbering — so the split works
  * identically on a 1000-executor cluster. Rows equal to the
  * threshold go to train (<=), so train ∪ test is exact and disjoint.
  */
object TemporalSplit {

  /** Timestamp threshold at the given chronological fraction. */
  private[graft] def thresholdAt(df: DataFrame, tsCol: String, frac: Double): Long =
    df.select(percentile_approx(col(tsCol).cast("long"), lit(frac), lit(10000))
      .as("t")).collect()(0).getLong(0)

  /** Thresholds at several fractions from ONE sketch pass: the same
    * percentile_approx summary answers every fraction, so each value
    * equals its single-fraction [[thresholdAt]]. */
  private[graft] def thresholdsAt(df: DataFrame, tsCol: String,
                                  fracs: Seq[Double]): Seq[Long] =
    df.select(percentile_approx(col(tsCol).cast("long"),
        array(fracs.map(lit): _*), lit(10000)).as("t"))
      .collect()(0).getSeq[Long](0)

  /** (train, test): first `trainFrac` of time to train, rest to test. */
  def split(df: DataFrame, tsCol: String = "ts", trainFrac: Double = 0.8)
      : (DataFrame, DataFrame) = {
    val t = thresholdAt(df, tsCol, trainFrac)
    (df.filter(col(tsCol).cast("long") <= t),
     df.filter(col(tsCol).cast("long") > t))
  }

  /** Expanding-window folds: fold i trains on the first (i+1)/(k+1) of
    * time and tests on the next 1/(k+1) — sklearn TimeSeriesSplit
    * semantics (each test window follows its train window, windows
    * expand). */
  def walkForward(df: DataFrame, tsCol: String = "ts", k: Int = 3)
      : Seq[(DataFrame, DataFrame)] = {
    val cuts = thresholdsAt(df, tsCol, (1 to k + 1).map(i => i.toDouble / (k + 1)))
    (0 until k).map { i =>
      val trainEnd = cuts(i)
      val testEnd = cuts(i + 1)
      (df.filter(col(tsCol).cast("long") <= trainEnd),
       df.filter(col(tsCol).cast("long") > trainEnd &&
                 col(tsCol).cast("long") <= testEnd))
    }
  }
}
