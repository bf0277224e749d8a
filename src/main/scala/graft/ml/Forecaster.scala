package graft.ml

/** Prediction surface (app.py:195-244 / SURVEY.md §2.6).
  *
  * The reference serves a recursive 24-step price forecast from pre-trained
  * pickled XGBoost regressors + MinMax scalers (one pair per symbol; lag
  * window w=5 for BTC, 24 for ETH — app.py:203-206). The pickles cannot be
  * loaded in Scala and the training code is absent from the repo, so we
  * replicate the MECHANISM (M1-M4) exactly and make the regressor pluggable:
  *
  *   M1 scale/inverse-scale — affine MinMax transform (2 doubles per model);
  *   M2 regression over a lag window of scaled closes;
  *   M3 recursive multi-step loop: each prediction appended to the window,
  *      oldest dropped (`np.append(window[1:], pred)`, app.py:233-239);
  *      timestamps = last_known + i * stepMs;
  *   M4 model validation — feature-arity check (app.py:214-217).
  *
  * Driver-side by design: the forecast is a 24-iteration loop over a w-length
  * buffer — milliseconds of work; distributing it would be pure overhead.
  * The heavy part at 100 TB is assembling training data, which stays in
  * Spark; serving reads its input window from Api's per-pair history view
  * (Api.lastCloses), which one filtered Spark read fills per table version.
  */
object Forecaster {

  /** M1: MinMax scaler fit on [dataMin, dataMax] → [0, 1], matching
    * sklearn.preprocessing.MinMaxScaler semantics.
    */
  final case class MinMaxScaler(dataMin: Double, dataMax: Double) {
    private val range = if (dataMax == dataMin) 1.0 else dataMax - dataMin
    def transform(x: Double): Double = (x - dataMin) / range
    def inverse(y: Double): Double = y * range + dataMin
  }

  object MinMaxScaler {
    def fit(xs: Seq[Double]): MinMaxScaler = {
      require(xs.nonEmpty, "cannot fit scaler on empty series")
      MinMaxScaler(xs.min, xs.max)
    }
  }

  /** M2: a regressor over a lag window of scaled closes. Implementations:
    * MLlib GBTRegressionModel wrapped to this interface, or the
    * deterministic [[PersistenceModel]] / [[DriftModel]] used in tests.
    */
  trait LagModel {
    def windowSize: Int
    def predict(window: Array[Double]): Double
  }

  /** Naive persistence baseline: next = last. */
  final case class PersistenceModel(windowSize: Int) extends LagModel {
    def predict(window: Array[Double]): Double = window.last
  }

  /** Linear drift baseline: next = last + mean first difference. */
  final case class DriftModel(windowSize: Int) extends LagModel {
    def predict(window: Array[Double]): Double = {
      val diffs = window.sliding(2).map(p => p(1) - p(0)).toArray
      if (diffs.isEmpty) window.last else window.last + diffs.sum / diffs.length
    }
  }

  /** A regressor and the EXACT scaler its training series was scaled
    * with. The reference persists and loads them as a pair
    * (app.py:211-218); fitting a fresh scaler on the serve-time tail
    * would feed the model mis-scaled windows (train/serve skew).
    */
  final case class Bundle(model: LagModel, scaler: MinMaxScaler)

  final case class Forecast(timestampMs: Long, predictedPrice: Double)

  /** Held-out one-step-ahead RMSE: for each t in [split, n), predict
    * series(t) from the preceding windowSize ACTUAL values (the serving
    * shape — each step sees real history, errors don't compound). Used to
    * quantify M2 model quality against the persistence baseline; the
    * scaler must be the one the model trained with (train/serve pairing,
    * see [[Bundle]]).
    */
  def oneStepRmse(model: LagModel, scaler: MinMaxScaler,
      series: Array[Double], split: Int): Double = {
    val w = model.windowSize
    require(split >= w, s"split $split < window $w")
    require(split < series.length, s"no held-out points past $split")
    val sqErrs = (split until series.length).map { t =>
      val win = series.slice(t - w, t).map(scaler.transform)
      val pred = scaler.inverse(model.predict(win))
      val d = pred - series(t)
      d * d
    }
    math.sqrt(sqErrs.sum / sqErrs.length)
  }

  /** M3: recursive multi-step forecast. `closes` is the chronological tail
    * of the series (must be >= model.windowSize long — M4 validation);
    * returns `steps` predictions at `lastKnownMs + i * stepMs`.
    */
  def recursiveForecast(model: LagModel, scaler: MinMaxScaler,
      closes: Array[Double], lastKnownMs: Long, stepMs: Long,
      steps: Int = 24): Seq[Forecast] = {
    require(closes.length >= model.windowSize,
      s"need ${model.windowSize} closes, got ${closes.length}") // M4
    var window = closes.takeRight(model.windowSize).map(scaler.transform)
    (1 to steps).map { i =>
      val pred = model.predict(window)
      window = window.drop(1) :+ pred // np.append(window[1:], pred)
      Forecast(lastKnownMs + i * stepMs, scaler.inverse(pred))
    }
  }
}
