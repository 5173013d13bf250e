package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GridSeries.ms
import Rounding.{r4, r4d}

/** Forecasting members of the series-analytics battery: the seasonal
  * completion of the exponential family ([[SeriesOps.holt]] adds trend to
  * EWMA's level; [[holtWinters]] adds the seasonal state), plus the
  * backtest harness that grades any one-step forecaster on a train/test
  * split ([[forecastAccuracy]]).
  *
  * Scale shapes:
  *  - [[holtWinters]] is an inherently sequential three-state recursion per
  *    series — the same typed sorted-fold kernel shape as holt/cusum
  *    (state_i depends on state_{i−1}), O(m) state, one conv_id shuffle.
  *    Every state transition is 4-dp quantized so the DuckDB recursive-CTE
  *    oracle replays the machine exactly (the list-state rolling window is
  *    the seasonal ring buffer).
  *  - [[forecastAccuracy]] is purely relational: one conv-partitioned
  *    window (the lag-1 naive forecast + the ordering index) and one
  *    partial agg. All four error metrics are ratios of INTEGER sums
  *    (|e|, e², |y| are integers on integer-valued series), so no float
  *    summation-order hazard exists at any corpus size — the ccf 2^53
  *    lesson applied by construction.
  */
object Forecast {

  /** Holt-Winters additive triple-exponential smoother (level + trend +
    * seasonal; Winters 1960), the seasonal member of the `sits_filter`
    * streaming family (/root/reference/R/sits_filters.R — the whole-series
    * matrix smoothers' O(m)-state streaming counterpart).
    *
    * Initialization (first full cycle of `period` = m observations):
    *   l = r4(mean(y_1..y_m)),  b = 0,  s_j = r4(y_j − l) for j = 1..m.
    * Recursion for i = m+1..n, with seasonal slot s⁻ = state of slot
    * ((i−1) mod m) (last written at i−m):
    *   forecast_i = r4(l + b + s⁻)                 (one-step-ahead, pre-update)
    *   l_i = r4(α·(y_i − s⁻) + (1−α)·(l + b))
    *   b_i = r4(β·(l_i − l) + (1−β)·b)
    *   s_i = r4(γ·(y_i − l_i) + (1−γ)·s⁻)
    * Per-step 4-dp quantization of ALL THREE states makes the recursion
    * exactly replayable by a recursive-CTE oracle carrying the m seasonal
    * states as a rolling list (head = next slot to consume).
    *
    * Emits one row per post-warmup observation (idx = m+1..n):
    * (conv_id, idx, value, level, trend, seasonal, forecast). Series with
    * n ≤ m have no post-warmup points and are excluded.
    */
  def holtWinters(metrics: DataFrame, alpha: Double, beta: Double,
      gamma: Double, period: Int, valueCol: String = "value"): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1 &&
      gamma >= 0 && gamma <= 1, "alpha in (0,1], beta/gamma in [0,1]")
    require(period >= 2, "period >= 2")
    val spark = metrics.sparkSession
    import spark.implicits._
    val m = period
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        val n = rows.length
        if (n <= m) Iterator.empty
        else {
          val y = rows.map(_._4)
          // integer-valued inputs: the init mean's sum is exact
          var s0 = 0.0
          var j = 0
          while (j < m) { s0 += y(j); j += 1 }
          var l = r4d(s0 / m)
          var b = 0.0
          // ring buffer, head = seasonal state of the NEXT observation's slot
          val ring = scala.collection.mutable.Queue.tabulate(m)(k => r4d(y(k) - l))
          Iterator.range(m, n).map { i =>
            val sUsed = ring.dequeue()
            val fc = r4d(l + b + sUsed)
            val lPrev = l
            l = r4d(alpha * (y(i) - sUsed) + (1 - alpha) * (l + b))
            b = r4d(beta * (l - lPrev) + (1 - beta) * b)
            val sNew = r4d(gamma * (y(i) - l) + (1 - gamma) * sUsed)
            ring.enqueue(sNew)
            (conv, i + 1, y(i), l, b, sNew, fc)
          }
        }
    }.toDF("conv_id", "idx", "value", "level", "trend", "seasonal", "forecast")
  }

  /** One-step-naive forecast backtest: split each series at the 80% point
    * (train h = ⌊4n/5⌋, test the rest; series with n < 5 are excluded),
    * forecast every test point with the PREVIOUS observation (rolling
    * naive, the standard no-refit baseline), and grade:
    *   mae  = r4( Σ|e| / n_test )
    *   rmse = r4( √(Σe² / n_test) )
    *   wape = r4( 100·Σ|e| / Σ|y| )            (aggregate percent error;
    *          the summation-order-safe form of MAPE — both sums integer)
    *   mase = r4( (Σ|e|·(h−1)) / (n_test·Σ_train|y_i − y_{i−1}|) )
    *          (Hyndman & Koehler 2006; NULL when the train scale is 0)
    * Every numerator/denominator is an integer sum on integer-valued
    * series, so the four ratios are single IEEE divisions — bit-identical
    * cross-engine with no aggregation-order exposure.
    */
  /** Theta-method forecaster (Assimakopoulos & Nikolopoulos 2000 — the
    * M3-competition winner; equivalently SES with drift b/2, Hyndman &
    * Billah 2003). Per series over the time-ordered values with 0-based
    * position t:
    *   1. OLS trend (the θ=0 line): b = (nΣty − ΣtΣy)/(nΣt² − (Σt)²) from
    *      EXACT integer sums (t, y integer-valued; n·M·n² < 2^53 bound),
    *      quantized b4 = r4(b), then a4 = r4((Σy − b4·Σt)/n).
    *   2. θ=2 line: d_t = r4(2·y_t − (a4 + b4·t)) — doubles the curvature.
    *   3. SES over d: s_1 = d_1, s_t = r4(α·d_t + (1−α)·s_{t−1}).
    *   4. one-step combined forecast: fc_t = r4(0.5·(s_t + (a4+b4·(t+1))))
    *      — the equal-weight θ-0/θ-2 combination.
    * Every recursion input is already 4-dp quantized, so a recursive-CTE
    * oracle replays the machine exactly (the holt contract). One typed
    * sorted-fold kernel per conversation: the OLS sums AND the recursion
    * run in the same pass over the sorted array — no join, one conv_id
    * shuffle. Series need ≥ 8 points and non-degenerate time variance
    * (guaranteed for distinct positions). Emits (conv_id, idx, value,
    * theta2, ses, forecast) per observation.
    */
  def theta(metrics: DataFrame, alpha: Double,
      valueCol: String = "value"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha in (0,1]")
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        val n = rows.length
        if (n < 8) Iterator.empty
        else {
          val y = rows.map(_._4)
          var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
          var t = 0
          while (t < n) {
            sx += t; sy += y(t); sxx += t.toDouble * t
            sxy += t * y(t); t += 1
          }
          val b4 = r4d((n * sxy - sx * sy) / (n * sxx - sx * sx))
          val a4 = r4d((sy - b4 * sx) / n)
          var s = 0.0
          Iterator.range(0, n).map { i =>
            val d = r4d(2 * y(i) - (a4 + b4 * i))
            s = if (i == 0) d else r4d(alpha * d + (1 - alpha) * s)
            val fc = r4d(0.5 * (s + (a4 + b4 * (i + 1))))
            (conv, i + 1, y(i), d, s, fc)
          }
        }
    }.toDF("conv_id", "idx", "value", "theta2", "ses", "forecast")
  }

  /** AR(2) one-step backcast via Yule-Walker — the autoregressive member
    * of the forecast family, built ENTIRELY from already-quantized
    * relational pieces (no recursion, no kernel): φ₂ = (r₂−r₁²)/(1−r₁²),
    * φ₁ = r₁(1−r₂)/(1−r₁²) from [[SeriesOps.acf]]'s 4-dp autocorrelations,
    * then every in-sample point is predicted as
    * ŷ = μ + φ₁(y₋₁−μ) + φ₂(y₋₂−μ) (one fixed-order float chain over
    * quantized inputs — bit-identical cross-engine). Errors are quantized
    * to integer CENTI-units before squaring, so ΣεΔ² is an exact integer
    * sum (2-dp RMSE precision; bound n·(100·|e|max)² < 2^53 documented)
    * and the skill score vs the lag-1 naive baseline is a single √ ratio.
    * One acf pass + one window pass sharing the conv partitioning.
    * Output: (conv_id, n_pts, phi1, phi2, rmse_ar2, rmse_naive, skill).
    */
  def ar2Forecast(metrics: DataFrame,
      valueCol: String = "value"): DataFrame = {
    val phi = SeriesOps.acf(metrics, valueCol)
      .withColumn("den", r4(lit(1.0) - col("r1") * col("r1")))
      .filter(col("den") > 0)
      .withColumn("phi2", r4((col("r2") - col("r1") * col("r1")) / col("den")))
      .withColumn("phi1",
        r4(col("r1") * (lit(1.0) - col("r2")) / col("den")))
      .select("conv_id", "phi1", "phi2")
    val mu = metrics.groupBy("conv_id").agg(r4(avg(valueCol)).as("mu"))
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics.join(mu, "conv_id").join(phi, "conv_id")
      .withColumn("y1", lag(valueCol, 1).over(w))
      .withColumn("y2", lag(valueCol, 2).over(w))
      .filter(col("y1").isNotNull && col("y2").isNotNull)
      .withColumn("pred",
        col("mu") + col("phi1") * (col("y1") - col("mu")) +
          col("phi2") * (col("y2") - col("mu")))
      .withColumn("e_c",
        round((col(valueCol) - col("pred")) * 100).cast("long"))
      .withColumn("en_c",
        round((col(valueCol) - col("y1")) * 100).cast("long"))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_pts"),
        first("phi1").as("phi1"), first("phi2").as("phi2"),
        sum(col("e_c") * col("e_c")).as("se2"),
        sum(col("en_c") * col("en_c")).as("sn2"))
      .select(col("conv_id"), col("n_pts"), col("phi1"), col("phi2"),
        r4(sqrt(col("se2") / (lit(10000.0) * col("n_pts")))).as("rmse_ar2"),
        r4(sqrt(col("sn2") / (lit(10000.0) * col("n_pts")))).as("rmse_naive"),
        when(col("sn2") > 0,
          r4(lit(1.0) - sqrt(col("se2") / col("sn2")))).as("skill"))
  }

  /** Croston's method for intermittent demand (Croston 1972, the standard
    * sparse-series forecaster — tool invocations in agent transcripts are
    * exactly its domain: most periods see zero calls). Input is the
    * NONZERO demand relation (conv_id, period_idx, qty): only periods with
    * demand carry rows; zero periods are implicit in the `period_idx`
    * gaps. Two coupled SES recursions over the demand subsequence i=1..k:
    *   init (i=1):  z = r4(q₁), p = 1.0 (fixed-init convention), τ₁ NULL
    *   step (i≥2):  τᵢ = periodᵢ − periodᵢ₋₁  (integer ≥ 1)
    *                z = r4(α·qᵢ + (1−α)·z⁻),  p = r4(α·τᵢ + (1−α)·p⁻)
    *   rateᵢ = r4(z/p)   (the demand-per-period forecast)
    * Per-step 4-dp quantization of BOTH states makes the machine exactly
    * replayable by a recursive-CTE oracle (the holt/holtWinters contract).
    * Same scale shape as [[holtWinters]]: a typed sorted-fold kernel per
    * conversation, O(1) state, one conv_id shuffle — and the input is the
    * ALREADY-AGGREGATED demand relation, orders of magnitude smaller than
    * raw turns. Emits one row per demand: (conv_id, i, period_idx, qty,
    * tau, z_smooth, p_smooth, rate).
    */
  def croston(demands: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha in (0,1]")
    val spark = demands.sparkSession
    import spark.implicits._
    GridSeries.byIndex(demands, col("conv_id").cast("string"),
        col("period_idx").cast("long"), col("qty").cast("double")) {
      (conv: String, rows: Array[(String, Long, Double)]) =>
        var z = 0.0; var p = 1.0; var prevT = 0L
        rows.iterator.zipWithIndex.map { case ((_, t, q), i0) =>
          val tau: Option[Long] = if (i0 == 0) None else Some(t - prevT)
          if (i0 == 0) { z = r4d(q); p = 1.0 }
          else {
            z = r4d(alpha * q + (1 - alpha) * z)
            p = r4d(alpha * (t - prevT) + (1 - alpha) * p)
          }
          prevT = t
          (conv, i0 + 1, t, q, tau, z, p, r4d(z / p))
        }
    }.toDF("conv_id", "i", "period_idx", "qty", "tau",
        "z_smooth", "p_smooth", "rate")
  }

  /** Seasonal-naive backtest — the m-periodic sibling of
    * [[forecastAccuracy]] (Hyndman & Athanasopoulos FPP3 §5.2: forecast
    * every test point with the observation m steps back; the baseline any
    * seasonal model must beat). Same 80/20 split and the same
    * integer-sum-ratio metric contract; the seasonal MASE denominator is
    * the train-side mean |y_i − y_{i−m}|. Series need ≥ 3·m observations
    * so the train side holds at least one full seasonal comparison.
    */
  def seasonalNaiveAccuracy(metrics: DataFrame, m: Int,
      valueCol: String = "value"): DataFrame = {
    require(m >= 1, "period m >= 1")
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val idxd = metrics
      .withColumn("idx", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
      .withColumn("prev", lag(col(valueCol), m).over(w))
      .filter(col("n") >= 3 * m)
      .withColumn("h", floor(col("n") * 4 / lit(5)).cast("long"))
    idxd.groupBy("conv_id")
      .agg(
        first("n").as("n"), first("h").as("h"),
        sum(when(col("idx") > col("h"),
          abs(col(valueCol) - col("prev"))).otherwise(lit(0.0))).as("sae"),
        sum(when(col("idx") > col("h"),
          (col(valueCol) - col("prev")) * (col(valueCol) - col("prev")))
          .otherwise(lit(0.0))).as("sse"),
        sum(when(col("idx") > col("h"), abs(col(valueCol)))
          .otherwise(lit(0.0))).as("say"),
        sum(when(col("idx") > lit(m) && col("idx") <= col("h"),
          abs(col(valueCol) - col("prev"))).otherwise(lit(0.0))).as("strain"))
      .select(col("conv_id"),
        col("n").cast("long").as("n_obs"),
        (col("n") - col("h")).cast("long").as("n_test"),
        r4(col("sae") / (col("n") - col("h"))).as("mae"),
        r4(sqrt(col("sse") / (col("n") - col("h")))).as("rmse"),
        when(col("say") > 0, r4(lit(100) * col("sae") / col("say")))
          .as("wape"),
        when(col("strain") > 0,
          r4(col("sae") * (col("h") - m) /
            ((col("n") - col("h")) * col("strain")))).as("mase"))
  }

  def forecastAccuracy(metrics: DataFrame,
      valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val idxd = metrics
      .withColumn("idx", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
      .withColumn("prev", lag(col(valueCol), 1).over(w))
      .filter(col("n") >= 5)
      // floor division (Spark `/` is double division; products are far
      // below 2^53 so floor(double) == integer div)
      .withColumn("h", floor(col("n") * 4 / lit(5)).cast("long"))
    idxd.groupBy("conv_id")
      .agg(
        first("n").as("n"), first("h").as("h"),
        sum(when(col("idx") > col("h"),
          abs(col(valueCol) - col("prev"))).otherwise(lit(0.0))).as("sae"),
        sum(when(col("idx") > col("h"),
          (col(valueCol) - col("prev")) * (col(valueCol) - col("prev")))
          .otherwise(lit(0.0))).as("sse"),
        sum(when(col("idx") > col("h"), abs(col(valueCol)))
          .otherwise(lit(0.0))).as("say"),
        sum(when(col("idx") > lit(1) && col("idx") <= col("h"),
          abs(col(valueCol) - col("prev"))).otherwise(lit(0.0))).as("strain"))
      .select(col("conv_id"),
        col("n").cast("long").as("n_obs"),
        (col("n") - col("h")).cast("long").as("n_test"),
        r4(col("sae") / (col("n") - col("h"))).as("mae"),
        r4(sqrt(col("sse") / (col("n") - col("h")))).as("rmse"),
        when(col("say") > 0, r4(lit(100) * col("sae") / col("say")))
          .as("wape"),
        when(col("strain") > 0,
          r4(col("sae") * (col("h") - 1) /
            ((col("n") - col("h")) * col("strain")))).as("mase"))
  }
}
