package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GridSeries.ms
import Rounding.{r4, r4d}

/** Series analytics beyond bucket aggregates — the operational-monitoring
  * face of the rollup engine (sessionization, duty-cycle accounting,
  * autocorrelation, seasonal baselines, sequential change detection,
  * trend smoothing, and LTTB downsampling).
  *
  * Shapes, in scale order of importance:
  *  - [[sessionize]] / [[timeWeightedAvg]] / [[stateAgg]] /
  *    [[acf]] / [[seasonalAnomalies]]: purely relational — one
  *    conv-partitioned window pass + one partial agg each. At 10^12 turns
  *    they inherit the rollup's partitioning story unchanged: the window
  *    sort and the groupBy share the conv_id hash partitioning, so each is
  *    a single shuffle.
  *  - [[cusum]] / [[holt]] / [[lttb]]: inherently sequential recursions per
  *    series (state_i depends on state_{i-1}) — typed sorted-fold kernels
  *    per conversation over [[GridSeries.byTurn]], O(1)–O(n) state. Every
  *    recursion step is 4-dp-quantized so the DuckDB recursive-CTE oracle
  *    replays the state machine EXACTLY (the bayts/ewma verification
  *    pattern — no float drift across steps).
  *
  * CUSUM (Page 1954) is the sequential analog of the reference's online
  * change detection (`/root/reference/R/sits_detect_change.R`,
  * `sits_bayts`); Holt's linear trend joins the `sits_filter` smoother
  * family (`/root/reference/R/sits_filters.R` — Whittaker/Savitzky-Golay
  * are whole-series matrix smoothers, EWMA/Holt the O(1)-state streaming
  * members); LTTB (Steinarsson 2013) joins [[Downsample.m4]] as the
  * second visualization-grade downsampler.
  */
object SeriesOps {

  /** Gap-threshold sessionization: a new session starts at the first
    * observation and whenever the inter-observation delta exceeds `gapMs`.
    * The boundary flag and the running session index share ONE window
    * ordering (single sort per conv), then one partial agg per session.
    * All-integer output (conv_id, sess_idx, n_turns, start_ms, end_ms,
    * dur_ms) — hash-exact cross-engine by construction.
    */
  def sessionize(metrics: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("d", ms(col("ts")) - ms(lag("ts", 1).over(w)))
      .withColumn("new_sess",
        when(col("d").isNull || col("d") > gapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(w))
      .groupBy("conv_id", "sess_idx")
      .agg(count(lit(1)).as("n_turns"),
        min(ms(col("ts"))).as("start_ms"),
        max(ms(col("ts"))).as("end_ms"))
      .withColumn("dur_ms", col("end_ms") - col("start_ms"))
  }

  /** Time-weighted average per (conv, bucket) with last-observation-
    * carried-forward weighting (the TimescaleDB `time_weight('LOCF')`
    * shape): each observation is weighted by the exact-ms interval until
    * the NEXT observation in the same bucket; the bucket's last
    * observation gets weight 0. Buckets whose observations all share one
    * timestamp (weight sum 0) fall back to the plain mean. Weights are
    * integer ms and values integer-valued, so Σv·w is double-exact; only
    * the final ratio is 4-dp quantized.
    */
  def timeWeightedAvg(metrics: DataFrame, bucketExpr: Column,
      valueCol: String = "value"): DataFrame = {
    val withBucket = metrics.withColumn("bucket_ts", bucketExpr)
    val w = Window.partitionBy("conv_id", "bucket_ts").orderBy("ts", "turn_idx")
    withBucket
      .withColumn("t", ms(col("ts")))
      .withColumn("hold", coalesce(lead("t", 1).over(w) - col("t"), lit(0L)))
      .groupBy("conv_id", "bucket_ts")
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol) * col("hold")).as("num"),
        sum("hold").as("den"),
        avg(col(valueCol)).as("fallback"))
      .select(col("conv_id"), col("bucket_ts"), col("n"),
        when(col("den") > 0, r4(col("num") / col("den")))
          .otherwise(r4(col("fallback"))).as("twa"))
  }

  /** Time-in-state accounting per (conv, state) with LOCF hold semantics
    * (the TimescaleDB `state_agg` shape): observation i holds its state
    * from t_i until t_{i+1} (the series' last observation holds 0 ms), and
    * a state entry is counted whenever the state differs from the previous
    * observation's (the first observation always enters). All-integer
    * output: (conv_id, state, n_obs, n_enter, total_ms).
    */
  def stateAgg(metrics: DataFrame, stateCol: String): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("t", ms(col("ts")))
      .withColumn("hold", coalesce(lead("t", 1).over(w) - col("t"), lit(0L)))
      .withColumn("enter",
        when(lag(stateCol, 1).over(w).isNull ||
          lag(stateCol, 1).over(w) =!= col(stateCol), 1L).otherwise(0L))
      .groupBy(col("conv_id"), col(stateCol).as("state"))
      .agg(count(lit(1)).as("n_obs"),
        sum("enter").as("n_enter"),
        sum("hold").as("total_ms"))
  }

  /** Sample autocorrelation at lags 1..3 per series: with the 4-dp
    * quantized series mean x̄, r_k = Σ_{i>k} dx_i·dx_{i−k} / Σ dx_i² over
    * the time-ordered values (dx = x − x̄ is exact because x is
    * integer-valued and x̄ 4-dp). One stats agg + one co-partitioned join
    * back + one window pass carrying all three lags + one partial agg —
    * the conv_id hash partitioning is shared end-to-end. Constant series
    * (quantized c0 ≤ 0) drop. Output: (conv_id, n_obs, r1, r2, r3).
    */
  def acf(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val stats = metrics.groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"), r4(avg(col(valueCol))).as("mu"))
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val dx = metrics.join(stats, "conv_id")
      .withColumn("dx", col(valueCol) - col("mu"))
      .withColumn("dx1", lag("dx", 1).over(w))
      .withColumn("dx2", lag("dx", 2).over(w))
      .withColumn("dx3", lag("dx", 3).over(w))
    dx.groupBy("conv_id")
      .agg(first("n_obs").as("n_obs"),
        sum(col("dx") * col("dx")).as("c0"),
        sum(col("dx") * col("dx1")).as("c1"),
        sum(col("dx") * col("dx2")).as("c2"),
        sum(col("dx") * col("dx3")).as("c3"))
      // quantize the variance gate (the seriesCorrelation float-boundary
      // rule) so constant series drop in BOTH engines
      .filter(r4(col("c0")) > 0)
      .select(col("conv_id"), col("n_obs"),
        r4(col("c1") / col("c0")).as("r1"),
        r4(col("c2") / col("c0")).as("r2"),
        r4(col("c3") / col("c0")).as("r3"))
  }

  /** Seasonal (hour-of-day) anomaly screen: per (conv, hour-of-day) build
    * the baseline mean/std (population, 4-dp quantized), then flag
    * observations with |z| > `sigmas` against THEIR OWN series' hour
    * profile. Hours with fewer than `minObs` observations or zero variance
    * are unchecked. Both the profile agg and the join back are
    * (conv, hod)-keyed — co-partitioned, no broadcast of per-series state
    * needed at any corpus size. Output: (conv_id, n_obs, n_checked,
    * n_anom).
    */
  def seasonalAnomalies(metrics: DataFrame, sigmas: Double, minObs: Int,
      valueCol: String = "value"): DataFrame = {
    val prof = metrics
      .groupBy(col("conv_id"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_h"),
        r4(avg(col(valueCol))).as("mu_h"),
        r4(sqrt(avg(col(valueCol) * col(valueCol)) -
          avg(col(valueCol)) * avg(col(valueCol)))).as("sd_h"))
    metrics.withColumn("hod", hour(col("ts")))
      .join(prof, Seq("conv_id", "hod"))
      .withColumn("checked", col("n_h") >= minObs && col("sd_h") > 0)
      .withColumn("anom", col("checked") &&
        abs(r4((col(valueCol) - col("mu_h")) / col("sd_h"))) > sigmas)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("checked"), 1L).otherwise(0L)).as("n_checked"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anom"))
  }

  /** Role-transition response latency — the agent-transcript SLA metric:
    * for each observation whose time-order predecessor has role `fromRole`
    * and whose own role is `toRole`, latency = exact-ms delta to the
    * predecessor. Per series: n_pairs, 4-dp mean, integer min/max ms. One
    * window pass (lag of role and ts share the sort) + one partial agg.
    */
  def responseLatency(transcripts: DataFrame, fromRole: String,
      toRole: String): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    transcripts
      .withColumn("prev_role", lag("role", 1).over(w))
      .withColumn("d", ms(col("ts")) - ms(lag("ts", 1).over(w)))
      .filter(col("prev_role") === fromRole && col("role") === toRole)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_pairs"),
        r4(avg(col("d"))).as("mean_ms"),
        min("d").as("min_ms"), max("d").as("max_ms"))
  }

  /** Ordered-funnel analysis per conversation: walk the time-ordered
    * turns once and record the FIRST occurrence of each stage role that
    * appears strictly after the previous stage's match (the classic
    * strict-sequence funnel; a stage never matches at or before its
    * predecessor's turn). Typed sorted-fold kernel over
    * [[GridSeries.byTurn]], O(stages) state — never a per-stage self-join.
    * A conversation CONVERTS when it reaches
    * the last stage within `windowMs` of its first-stage match (the
    * time-bounded-conversion gate that makes the funnel discriminative on
    * traffic where every long conversation eventually hits every role).
    * Output: (conv_id, reached, t<i>_ms... with −1 sentinels for
    * unreached stages, span_ms, converted).
    */
  def funnel(transcripts: DataFrame, stages: Seq[String],
      windowMs: Long = Long.MaxValue): DataFrame = {
    require(stages.nonEmpty && stages.size <= 8, "1..8 funnel stages")
    val spark = transcripts.sparkSession
    import spark.implicits._
    val nStages = stages.size
    val rows = GridSeries.byTurn(transcripts, col("role").cast("string")) {
      (conv, turns: Array[(String, Long, Int, String)]) =>
        val hit = Array.fill(nStages)(-1L)
        var stage = 0
        var i = 0
        while (i < turns.length && stage < nStages) {
          if (turns(i)._4 == stages(stage)) {
            hit(stage) = turns(i)._2
            stage += 1
          }
          i += 1
        }
        Iterator.single((conv, stage, hit.toSeq))
    }
    val span = when(col("reached") === nStages,
      element_at(col("hits"), nStages) - element_at(col("hits"), 1))
      .otherwise(lit(-1L))
    rows.toDF("conv_id", "reached", "hits")
      .select(col("conv_id") +: col("reached") +:
        (stages.indices.map(i =>
          element_at(col("hits"), i + 1).as(s"t${i + 1}_ms")) ++
          Seq(span.as("span_ms"),
            (col("reached") === nStages &&
              span.between(0, windowMs)).as("converted"))): _*)
  }

  /** Cohort retention matrix: each conversation joins the cohort of its
    * first active day; cell (cohort_day, age_d) counts conversations from
    * that cohort active age_d days later, with the retention fraction
    * against the cohort's day-0 size. Two partial aggs + one conv-hash
    * co-partitioned join (both sides keyed on conv_id — no broadcast of a
    * corpus-sized side) + one bounded window over the day-grid cells.
    * Output: (cohort_day, age_d, n_active, retention).
    */
  def cohortRetention(metrics: DataFrame): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val first = metrics.groupBy("conv_id")
      .agg(min(day).as("cohort_day"))
    val active = metrics.select(col("conv_id"), day.as("day")).distinct()
    val cells = active.join(first, "conv_id")
      .groupBy(col("cohort_day").cast("date").as("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("age_d"))
      .agg(count(lit(1)).as("n_active"))
    // day-0 size via a window over the (bounded) cohort×age cell grid;
    // age 0 always exists — a conv is active on its own cohort day
    val w = Window.partitionBy("cohort_day")
    cells
      .withColumn("c0", max(when(col("age_d") === 0, col("n_active"))).over(w))
      .select(col("cohort_day"), col("age_d"), col("n_active"),
        r4(col("n_active").cast("double") / col("c0")).as("retention"))
  }

  /** Role-bigram turn-taking matrix per conversation: count of each
    * (from_role → to_role) transition over the time-ordered turns. One lag
    * window + one partial agg; all-integer output.
    */
  def turnTaking(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    transcripts
      .withColumn("from_role", lag("role", 1).over(w))
      .filter(col("from_role").isNotNull)
      .groupBy(col("conv_id"), col("from_role"), col("role").as("to_role"))
      .agg(count(lit(1)).as("n"))
  }

  /** Local-maximum peak detection with a prominence floor: observation i
    * (interior, time order) is a peak when v_i > both neighbors AND
    * v_i − max(v_{i−1}, v_{i+1}) ≥ `delta`. Endpoints are never peaks.
    * Integer-exact on integer-valued metrics (no quantization needed).
    * One window pass (lag+lead share the sort) + one partial agg. Output:
    * (conv_id, n_obs, n_peaks, first_peak_ms, max_peak).
    */
  def peaks(metrics: DataFrame, delta: Double,
      valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("pv", lag(valueCol, 1).over(w))
      .withColumn("nv", lead(valueCol, 1).over(w))
      .withColumn("is_peak",
        col("pv").isNotNull && col("nv").isNotNull &&
          col(valueCol) > col("pv") && col(valueCol) > col("nv") &&
          col(valueCol) - greatest(col("pv"), col("nv")) >= delta)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("is_peak"), 1L).otherwise(0L)).as("n_peaks"),
        coalesce(min(when(col("is_peak"), ms(col("ts")))), lit(-1L))
          .as("first_peak_ms"),
        max(when(col("is_peak"), col(valueCol))).as("max_peak"))
      .withColumn("max_peak", coalesce(col("max_peak"), lit(-1.0)))
  }

  /** Reset-aware counter increase per (conv, bucket) — the PromQL
    * `increase` / TimescaleDB reset-handling `counter_agg` semantics over a
    * cumulative counter that can restart from 0: each consecutive pair
    * contributes v_i − v_{i−1} when non-decreasing, else v_i (the counter
    * restarted); the pair is attributed to the LATER observation's bucket,
    * so inter-bucket increases are never lost. A drop is counted as one
    * reset. The lag is per conversation (one window sort), the agg per
    * (conv, bucket) — both conv-hash-partitioned. Integer-exact on
    * integer-valued counters. Output: (conv_id, bucket_ts, n, n_resets,
    * inc).
    */
  def counterIncrease(metrics: DataFrame, bucketExpr: Column,
      counterCol: String): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("prev", lag(counterCol, 1).over(w))
      .withColumn("contrib",
        when(col("prev").isNull, lit(0L))
          .when(col(counterCol) >= col("prev"), col(counterCol) - col("prev"))
          .otherwise(col(counterCol)))
      .withColumn("reset",
        when(col("prev").isNotNull && col(counterCol) < col("prev"), 1L)
          .otherwise(0L))
      .groupBy(col("conv_id"), bucketExpr.as("bucket_ts"))
      .agg(count(lit(1)).as("n"),
        sum("reset").as("n_resets"),
        sum("contrib").as("inc"))
  }

  /** Per-series OLS trend over the observation index (x = 1..n, uniform
    * spacing): slope, intercept, and R². All sums are exact (x integer, y
    * integer-valued), so the closed-form estimates are deterministic;
    * outputs and the variance gates are 4-dp quantized. Constant series
    * (quantized Syy ≤ 0) drop; series need n ≥ 2. One window pass for the
    * index + one partial agg.
    */
  def olsTrend(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("x", row_number().over(w).cast("double"))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum("x").as("sx"), sum(col(valueCol)).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col(valueCol) * col(valueCol)).as("syy"),
        sum(col("x") * col(valueCol)).as("sxy"))
      .withColumn("vx", col("n_obs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", r4(col("n_obs") * col("syy") - col("sy") * col("sy")))
      .withColumn("cv", col("n_obs") * col("sxy") - col("sx") * col("sy"))
      .filter(col("n_obs") >= 2 && col("vy") > 0)
      .select(col("conv_id"), col("n_obs"),
        r4(col("cv") / col("vx")).as("slope"),
        r4((col("sy") - col("cv") / col("vx") * col("sx")) / col("n_obs"))
          .as("intercept"),
        r4(col("cv") * col("cv") / (col("vx") * col("vy"))).as("r2"))
  }

  /** Classical additive seasonal decomposition over an hourly bucket grid
    * with period 24 (hour-of-day): trend is the textbook centered 2×24
    * moving average ((MA[−12,+11] + MA[−11,+12])/2, defined only where the
    * full ±12 window exists), the seasonal index per (conv, hour-of-day) is
    * the mean detrended value, centered so each conversation's 24 indices
    * sum to ~0. All three frames share ONE partition sort; the hod agg and
    * the centering join are conv-keyed. Operates on the observed bucket
    * sequence — feed a gap-filled grid upstream for strict calendar
    * regularity. Output: (conv_id, hod, n_h, s_idx).
    */
  def seasonalDecompose(metrics: DataFrame, bucketExpr: Column,
      valueCol: String = "value"): DataFrame = {
    val t = hourlyDetrended(metrics, bucketExpr, valueCol)
    val s = t.groupBy(col("conv_id"), hour(col("bucket_ts")).as("hod"))
      .agg(count(lit(1)).as("n_h"), r4(avg("detr")).as("s_raw"))
    val c = s.groupBy("conv_id").agg(r4(avg("s_raw")).as("s_mean"))
    s.join(c, "conv_id")
      .select(col("conv_id"), col("hod"), col("n_h"),
        r4(col("s_raw") - col("s_mean")).as("s_idx"))
  }

  /** Seasonal-residual anomaly screen — the decomposition family's alert
    * consumer: residual = detrended hourly value minus the conversation's
    * hour-of-day seasonal index (the [[seasonalDecompose]] components
    * recombined), flagged by the 3-sigma rule evaluated EXACTLY on
    * integer ten-thousandths via cross-multiplication:
    * (q·n − Σq)²·(n−1) > 9·(n·Σq² − (Σq)²)·n, computed in
    * DecimalType(38,0) (the oracle uses HUGEINT) so no magnitude ever
    * truncates — the float-free form of `|resid − μ| > 3σ̂`. One extra
    * unordered conv window over the already-aggregated bucket relation.
    * Output per conv: (conv_id, n_buckets, n_anom, max_abs_resid).
    */
  def stlAnomaly(metrics: DataFrame, bucketExpr: Column,
      valueCol: String = "value"): DataFrame = {
    val dec = "decimal(38,0)"
    val t = hourlyDetrended(metrics, bucketExpr, valueCol)
    val s = t.groupBy(col("conv_id"), hour(col("bucket_ts")).as("hod"))
      .agg(r4(avg("detr")).as("s_raw"))
    val c = s.groupBy("conv_id").agg(r4(avg("s_raw")).as("s_mean"))
    val sIdx = s.join(c, "conv_id")
      .select(col("conv_id"), col("hod"),
        r4(col("s_raw") - col("s_mean")).as("s_idx"))
    val resid = t
      .select(col("conv_id"), hour(col("bucket_ts")).as("hod"), col("detr"))
      .join(sIdx, Seq("conv_id", "hod"))
      .withColumn("q",
        floor((col("detr") - col("s_idx")) * lit(10000d) + lit(0.5))
          .cast("long"))
    val w = Window.partitionBy("conv_id")
    val flagged = resid
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sq", sum("q").over(w))
      .withColumn("sq2", sum(col("q") * col("q")).over(w))
      .withColumn("anom", col("n") >= 2 &&
        (col("q").cast(dec) * col("n") - col("sq")) *
          (col("q").cast(dec) * col("n") - col("sq")) * (col("n") - 1) >
        (col("n").cast(dec) * col("sq2") -
          col("sq").cast(dec) * col("sq")) * lit(9) * col("n"))
    flagged.groupBy("conv_id")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anom"),
        round(max(abs(col("q"))) / lit(10000d), 4).as("max_abs_resid"))
  }

  /** Shared detrending stage of [[seasonalDecompose]] /
    * [[seasonalStrength]]: hourly bucket means (4-dp), centered 2×24
    * moving-average trend, detrended residual where the full ±12 window
    * exists. All three frames share ONE conv partition sort.
    */
  private def hourlyDetrended(metrics: DataFrame, bucketExpr: Column,
      valueCol: String): DataFrame = {
    val b = metrics
      .groupBy(col("conv_id"), bucketExpr.as("bucket_ts"))
      .agg(r4(avg(col(valueCol))).as("v"))
    val w = Window.partitionBy("conv_id").orderBy("bucket_ts")
    b.withColumn("cnt", count(lit(1)).over(w.rowsBetween(-12, 12)))
      .withColumn("trend", when(col("cnt") === 25,
        r4((avg("v").over(w.rowsBetween(-12, 11)) +
          avg("v").over(w.rowsBetween(-11, 12))) / 2)))
      .withColumn("detr", col("v") - col("trend"))
      .filter(col("detr").isNotNull)
  }

  /** Strength of seasonality (Hyndman & Athanasopoulos, FPP3 §4.4 —
    * public textbook measure): F_s = max(0, 1 − Var(resid)/Var(detr)),
    * where resid is the detrended series minus its own (conv, hour-of-day)
    * seasonal index — the scalar that ranks which series actually HAVE the
    * daily cycle the decomposition assumes. Shares [[hourlyDetrended]]'s
    * one conv sort; both variances come from one partial agg over the
    * joined residual relation, computed from sums in a fixed operand order
    * (Σx²/n − (Σx/n)²) so the 4-dp output is replayable. detr and s_idx
    * are 4-dp quantized upstream, so the sums see identical doubles on
    * both engines. Output: (conv_id, n_b, var_detr, f_seasonal).
    */
  def seasonalStrength(metrics: DataFrame, bucketExpr: Column,
      valueCol: String = "value"): DataFrame = {
    val t = hourlyDetrended(metrics, bucketExpr, valueCol)
    val s = t.groupBy(col("conv_id"), hour(col("bucket_ts")).as("hod"))
      .agg(r4(avg("detr")).as("s_raw"))
    val c = s.groupBy("conv_id").agg(r4(avg("s_raw")).as("s_mean"))
    val sidx = s.join(c, "conv_id")
      .select(col("conv_id"), col("hod"),
        r4(col("s_raw") - col("s_mean")).as("s_idx"))
    val r = t.withColumn("hod", hour(col("bucket_ts")))
      .join(sidx, Seq("conv_id", "hod"))
      .withColumn("resid", col("detr") - col("s_idx"))
    val ag = r.groupBy("conv_id")
      .agg(count(lit(1)).as("n_b"),
        sum(col("detr") * col("detr")).as("sdd"), sum("detr").as("sd1"),
        sum(col("resid") * col("resid")).as("srr"), sum("resid").as("sr1"))
    val n = col("n_b").cast("double")
    val vd = col("sdd") / n - (col("sd1") / n) * (col("sd1") / n)
    val vr = col("srr") / n - (col("sr1") / n) * (col("sr1") / n)
    ag.filter(r4(vd) > 0)
      .select(col("conv_id"), col("n_b"),
        r4(vd).as("var_detr"),
        r4(greatest(lit(0.0), lit(1.0) - vr / vd)).as("f_seasonal"))
  }

  /** Ljung–Box portmanteau test at lags 1..3 (Ljung & Box 1978), computed
    * from [[acf]]'s 4-dp quantized autocorrelations:
    * Q = n(n+2)·Σ_k r_k²/(n−k), rejecting the IID null when Q exceeds the
    * χ²(3) 95% critical value 7.8147. Every operand (integer n, 4-dp r_k)
    * is identical cross-engine and the formula is evaluated in one fixed
    * operand order, so Q and the flag are hash-exact. Series shorter than
    * 4 observations drop. Output: (conv_id, n_obs, q_stat, reject_iid).
    */
  def ljungBox(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val a = acf(metrics, valueCol).filter(col("n_obs") > 3)
    val n = col("n_obs").cast("double")
    val q = n * (n + 2) *
      (col("r1") * col("r1") / (n - 1) + col("r2") * col("r2") / (n - 2) +
        col("r3") * col("r3") / (n - 3))
    a.select(col("conv_id"), col("n_obs"), r4(q).as("q_stat"),
      (r4(q) > lit(7.8147)).cast("int").as("reject_iid"))
  }

  /** Two-sided CUSUM change detection (Page 1954) — the classical
    * sequential analog of the reference's online bayts detector: per
    * series, standardize by the 4-dp quantized series mean/std, then run
    *   s⁺_i = max(0, r4(s⁺_{i−1} + z_i − k)),
    *   s⁻_i = max(0, r4(s⁻_{i−1} − z_i − k)),
    * alarm when either exceeds `h`, resetting both to 0 after an alarm.
    * Constant series (σ = 0) drop. Typed sorted-fold kernel, O(1) state —
    * the per-step quantization makes the recursion exactly replayable by
    * the DuckDB recursive-CTE oracle. Output per series:
    * (conv_id, n_obs, n_alarms, first_alarm_ms, max_stat).
    */
  def cusum(metrics: DataFrame, k: Double, h: Double,
      valueCol: String = "value"): DataFrame = {
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        val n = rows.length
        var sx = 0.0; var sxx = 0.0
        rows.foreach { r => sx += r._4; sxx += r._4 * r._4 }
        val mu = r4d(sx / n)
        val sd = r4d(math.sqrt(math.max(0.0, sxx / n - (sx / n) * (sx / n))))
        if (sd <= 0) Iterator.empty
        else {
          var sp = 0.0; var sn = 0.0
          var alarms = 0L; var firstMs = -1L; var maxStat = 0.0
          rows.foreach { case (_, t, _, y) =>
            val z = r4d((y - mu) / sd)
            val spE = math.max(0.0, r4d(sp + z - k))
            val snE = math.max(0.0, r4d(sn - z - k))
            maxStat = math.max(maxStat, math.max(spE, snE))
            val alarm = spE > h || snE > h
            if (alarm) {
              alarms += 1
              if (firstMs < 0) firstMs = t
              sp = 0.0; sn = 0.0
            } else { sp = spE; sn = snE }
          }
          Iterator.single((conv, n.toLong, alarms, firstMs, maxStat))
        }
    }.toDF("conv_id", "n_obs", "n_alarms", "first_alarm_ms", "max_stat")
  }

  /** Holt's linear-trend double-exponential smoother — the two-state
    * streaming member of the `sits_filter` family (level + trend vs EWMA's
    * single state):
    *   l_1 = r4(y_1), b_1 = 0;
    *   l_i = r4(α·y_i + (1−α)·(l_{i−1} + b_{i−1})),
    *   b_i = r4(β·(l_i − l_{i−1}) + (1−β)·b_{i−1}).
    * Per-step 4-dp quantization of BOTH states makes the two-state
    * recursion exactly replayable by the recursive-CTE oracle. Output one
    * row per observation: (conv_id, idx, value, level, trend, forecast)
    * with forecast = r4(level + trend), the one-step-ahead prediction.
    */
  def holt(metrics: DataFrame, alpha: Double, beta: Double,
      valueCol: String = "value"): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1,
      "alpha in (0,1], beta in [0,1]")
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        var l = 0.0; var b = 0.0
        rows.iterator.zipWithIndex.map { case ((_, _, _, y), i) =>
          if (i == 0) { l = r4d(y); b = 0.0 }
          else {
            val lPrev = l
            l = r4d(alpha * y + (1 - alpha) * (l + b))
            b = r4d(beta * (l - lPrev) + (1 - beta) * b)
          }
          (conv, i + 1, y, l, b, r4d(l + b))
        }
    }.toDF("conv_id", "idx", "value", "level", "trend", "forecast")
  }

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) — the
    * shape-preserving companion of [[Downsample.m4]]: keep the first and
    * last points; split the interior into `buckets`−2 equal-count frames;
    * left to right, from each frame keep the point maximizing the triangle
    * area with the PREVIOUSLY selected point and the NEXT frame's 4-dp
    * centroid (the last frame anchors on the series' last point). Ties
    * break to the earliest point. The x-axis is the 1-based observation
    * index (uniform-x LTTB), so all products are small and double-exact;
    * the doubled triangle area is 4-dp quantized before comparison, making
    * the greedy selection integer-exact cross-engine.
    *
    * Series with ≤ `buckets` points pass through unsampled. Typed
    * sorted-fold kernel per series (selection f depends on selection f−1 —
    * inherently sequential), one conv_id shuffle; at 10^12 turns the
    * kernel is O(n) per series like the gap-fill. Output:
    * (conv_id, seq, idx, value).
    */
  def lttb(metrics: DataFrame, buckets: Int,
      valueCol: String = "value"): DataFrame = {
    require(buckets >= 3, "buckets >= 3")
    val spark = metrics.sparkSession
    import spark.implicits._
    val m = buckets
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        val n = rows.length
        val y = rows.map(_._4)
        if (n <= m) {
          Iterator.tabulate(n)(i => (conv, i + 1, i + 1, y(i)))
        } else {
          val mid = m - 2
          // frame of interior point i (0-based, i in 1..n-2):
          // integer division mirrors the oracle's `//`
          def frame(i: Int): Int = ((i - 1) * mid) / (n - 2)
          val cnt = new Array[Int](mid)
          val sx = new Array[Double](mid)
          val sy = new Array[Double](mid)
          var i = 1
          while (i <= n - 2) {
            val f = frame(i)
            cnt(f) += 1; sx(f) += (i + 1).toDouble; sy(f) += y(i)
            i += 1
          }
          val out = new Array[(String, Int, Int, Double)](m)
          out(0) = (conv, 1, 1, y(0))
          var ax = 1.0; var ay = y(0)
          var f = 0
          var j = 1 // frames are contiguous index ranges: one forward pass
          while (f < mid) {
            val (nx, ny) =
              if (f < mid - 1) (r4d(sx(f + 1) / cnt(f + 1)), r4d(sy(f + 1) / cnt(f + 1)))
              else (n.toDouble, y(n - 1))
            var bestArea = -1.0; var bestI = -1
            while (j <= n - 2 && frame(j) == f) {
              val px = (j + 1).toDouble
              val area = r4d(math.abs(
                (ax - nx) * (y(j) - ay) - (ax - px) * (ny - ay)))
              if (area > bestArea) { bestArea = area; bestI = j }
              j += 1
            }
            out(f + 1) = (conv, f + 2, bestI + 1, y(bestI))
            ax = (bestI + 1).toDouble; ay = y(bestI)
            f += 1
          }
          out(m - 1) = (conv, m, n, y(n - 1))
          out.iterator
        }
    }.toDF("conv_id", "seq", "idx", "value")
  }

  /** Reset-aware per-second rate + instantaneous rate per (conv, bucket) —
    * the PromQL `rate`/`irate` pair over [[counterIncrease]]'s ledger:
    * `rate` divides the bucket's reset-adjusted increase by the fixed
    * bucket span; `irate` divides the LAST consecutive-pair contribution in
    * the bucket by that pair's exact-ms gap (the spike-sensitive variant).
    * The pair pick is one `max_by` keyed on (ts, turn_idx) — no second
    * window pass — and every input is integer, so only the two final
    * ratios are 4-dp quantized. Output: (conv_id, bucket_ts, n, n_resets,
    * inc, rate_per_s, irate_per_s).
    */
  def counterRate(metrics: DataFrame, bucketExpr: Column,
      counterCol: String, bucketSec: Long): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("t", ms(col("ts")))
      .withColumn("prev", lag(counterCol, 1).over(w))
      .withColumn("prev_t", lag("t", 1).over(w))
      .withColumn("contrib",
        when(col("prev").isNull, lit(0L))
          .when(col(counterCol) >= col("prev"), col(counterCol) - col("prev"))
          .otherwise(col(counterCol)))
      .withColumn("gap_ms", col("t") - col("prev_t"))
      .withColumn("reset",
        when(col("prev").isNotNull && col(counterCol) < col("prev"), 1L)
          .otherwise(0L))
      .groupBy(col("conv_id"), bucketExpr.as("bucket_ts"))
      .agg(count(lit(1)).as("n"),
        sum("reset").as("n_resets"),
        sum("contrib").as("inc"),
        max_by(struct(col("contrib"), col("gap_ms")),
          struct(col("t"), col("turn_idx"))).as("last_pair"))
      .select(col("conv_id"), col("bucket_ts"), col("n"), col("n_resets"),
        col("inc"),
        r4(col("inc").cast("double") / bucketSec).as("rate_per_s"),
        when(col("last_pair.gap_ms").isNotNull && col("last_pair.gap_ms") > 0,
          r4(col("last_pair.contrib").cast("double") * 1000 /
            col("last_pair.gap_ms")))
          .otherwise(lit(0.0)).as("irate_per_s"))
  }

  /** Per-(conv, day) observation-coverage report — the uptime/heartbeat
    * screen a fleet monitor runs over the raw tier before trusting a
    * day's rollups: distinct observed minutes, the coverage fraction
    * against the 1440-minute day, and the longest interior silence in ms.
    * All-integer except the one quantized fraction; the minute distinct
    * and the gap window share the (conv, day) grouping so the whole
    * report is one conv-hash shuffle. Output: (conv_id, day, n_obs,
    * n_minutes, coverage, max_gap_ms).
    */
  def coverage(metrics: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id"),
      date_trunc("day", col("ts"))).orderBy("ts", "turn_idx")
    metrics
      .withColumn("t", ms(col("ts")))
      .withColumn("gap", col("t") - lag("t", 1).over(w))
      .groupBy(col("conv_id"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n_obs"),
        countDistinct(date_trunc("minute", col("ts"))).as("n_minutes"),
        coalesce(max("gap"), lit(0L)).as("max_gap_ms"))
      .select(col("conv_id"), col("day"), col("n_obs"), col("n_minutes"),
        r4(col("n_minutes").cast("double") / 1440).as("coverage"),
        col("max_gap_ms"))
  }

  /** Sample cross-correlation between two integer-valued channels at lags
    * 0..2 (x leads y by k): the [[acf]] shape generalized to a pair.
    * Every accumulated sum is a sum of INTEGER products (exact in double
    * regardless of partial-agg order — the olsTrend guarantee), so the
    * centered numerators are recovered from raw sums by the closed form
    *   num_k = Σx·y_lag − ȳ·Σx − x̄·Σy_lag + cnt·x̄·ȳ
    * with 4-dp means — a fixed scalar expression, deterministic
    * cross-engine. Denominator √(Sxx·Syy) from whole-series raw sums.
    * Constant channels drop. One window pass carrying the three lags +
    * one partial agg. Output: (conv_id, n_obs, r0, r1, r2).
    *
    * Exactness domain: the integer-sum guarantee holds while every
    * accumulated sum stays below 2^53. Each row contributes ≤ M² to
    * Σx², so a conversation of n turns with |values| ≤ M is exact while
    * n·M² < 2^53 — e.g. M = 10^5 (text_len) admits n up to ~9·10^5 turns
    * per conversation. Past that bound double summation loses ULPs while
    * DuckDB sums in higher precision, and the 4-dp quantized r can
    * diverge; accumulate sxx/sxy in DecimalType if conversations that
    * long ever carry magnitudes that large.
    */
  def ccf(metrics: DataFrame, xCol: String, yCol: String): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val x = col(xCol); val y = col(yCol)
    val lagged = metrics
      .withColumn("y1", lag(yCol, 1).over(w))
      .withColumn("y2", lag(yCol, 2).over(w))
    val agg = lagged.groupBy("conv_id").agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"),
      sum(x * y).as("sxy0"),
      sum(when(col("y1").isNotNull, x * col("y1"))).as("sxy1"),
      sum(when(col("y2").isNotNull, x * col("y2"))).as("sxy2"),
      sum(when(col("y1").isNotNull, x)).as("sx1"),
      sum(when(col("y2").isNotNull, x)).as("sx2"),
      sum(col("y1")).as("sy1"), sum(col("y2")).as("sy2"))
    val mx = r4(col("sx") / col("n")); val my = r4(col("sy") / col("n"))
    val withM = agg
      .withColumn("mx", mx).withColumn("my", my)
      .withColumn("vx", r4(col("sxx") - col("n") * col("mx") * col("mx")))
      .withColumn("vy", r4(col("syy") - col("n") * col("my") * col("my")))
      .filter(col("n") >= 3 && col("vx") > 0 && col("vy") > 0)
      .withColumn("den", sqrt(col("vx") * col("vy")))
    def rk(sxyK: Column, sxK: Column, syK: Column, cntK: Column): Column =
      r4((sxyK - col("my") * sxK - col("mx") * syK +
        cntK * col("mx") * col("my")) / col("den"))
    withM.select(col("conv_id"), col("n").as("n_obs"),
      rk(col("sxy0"), col("sx"), col("sy"), col("n")).as("r0"),
      rk(col("sxy1"), col("sx1"), col("sy1"), col("n") - 1).as("r1"),
      rk(col("sxy2"), col("sx2"), col("sy2"), col("n") - 2).as("r2"))
  }

  /** Hampel MAD outlier screen over a centered ±`k` observation window:
    * per point, the window median and the median absolute deviation are
    * EXACT (sorted integer-valued window array, midpoint rule — worst
    * case x.5, still exact in double), and a point is an outlier when
    * |x − med| > nsig·1.4826·mad (the Gaussian-consistent MAD scale;
    * single correctly-rounded multiply chain, exact cross-engine
    * compare). Edge windows shrink symmetrically in both engines. The
    * whole screen is ONE conv-partitioned window sort + one partial agg.
    * Output per series: (conv_id, n_obs, n_outliers, first_outlier_ms,
    * max_ratio) with max_ratio = r4(max |x−med|/mad over mad>0 rows).
    */
  def hampel(metrics: DataFrame, k: Int, nsig: Double,
      valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      .rowsBetween(-k, k)
    val arr = sort_array(collect_list(col(valueCol)).over(w))
    def medOf(a: Column): Column = {
      // (n+1)/2 on Column is DOUBLE division; cast truncates → integer
      // midpoint indices (n ≥ 1, so truncation == floor)
      val n = size(a)
      (element_at(a, ((n + 1) / 2).cast("int")) +
        element_at(a, ((n + 2) / 2).cast("int"))) / 2
    }
    // NULL contract: collect_list silently drops nulls (shrinking the
    // window) while DuckDB's list() keeps them — filter nulls out up front
    // (and the oracle carries the matching WHERE) so both engines see the
    // same windows by construction, not by fixture luck.
    metrics
      .filter(col(valueCol).isNotNull)
      .withColumn("arr", arr)
      .withColumn("med", medOf(col("arr")))
      .withColumn("mad",
        medOf(sort_array(transform(col("arr"),
          a => abs(a - col("med"))))))
      .withColumn("dev", abs(col(valueCol) - col("med")))
      .withColumn("is_out",
        col("mad") > 0 && col("dev") > lit(nsig) * (lit(1.4826) * col("mad")))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        coalesce(min(when(col("is_out"), ms(col("ts")))), lit(-1L))
          .as("first_outlier_ms"),
        coalesce(r4(max(when(col("mad") > 0, col("dev") / col("mad")))),
          lit(-1.0)).as("max_ratio"))
  }

  /** Kleinberg-style two-state burst detection over inter-arrival gaps
    * (Kleinberg KDD'02, the enumerated 2-state automaton with a fixed
    * transition cost): gaps are normalized by the series' exact mean gap
    * (x̂ = r4(gap/mean)), the base state emits at the mean rate
    * (cost x̂), the burst state at twice it (cost r4(2x̂) − 0.6931, the
    * 4-dp ln 2 literal), entering burst costs τ = 1. Both path costs are
    * 4-dp quantized per step, so the dynamic program is exactly
    * replayable by the DuckDB recursive-CTE oracle; the emitted summary
    * is the filtering-state sequence (burst when the burst-path cost is
    * strictly lower). Typed sorted-fold kernel, O(1) state, one conv_id
    * shuffle. Output: (conv_id, n_gaps, total_cost, n_burst,
    * max_burst_run, first_burst_ms).
    */
  def bursts(metrics: DataFrame): DataFrame = {
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics) {
      (conv, rows: Array[(String, Long, Int)]) =>
        val n = rows.length
        if (n < 3) Iterator.empty
        else {
          val t = rows.map(_._2)
          val meanGap = (t(n - 1) - t(0)).toDouble / (n - 1)
          if (meanGap <= 0) Iterator.empty
          else {
            var d0 = 0.0; var d1 = 1.0 // entering burst before gap 1: tau
            var nb = 0L; var run = 0L; var maxRun = 0L; var firstMs = -1L
            var j = 1
            while (j < n) {
              val xh = r4d((t(j) - t(j - 1)) / meanGap)
              val c0 = xh
              val c1 = r4d(r4d(2 * xh) - 0.6931)
              val n0 = r4d(math.min(d0, d1) + c0)
              val n1 = r4d(math.min(d0 + 1.0, d1) + c1)
              d0 = n0; d1 = n1
              if (d1 < d0) {
                nb += 1; run += 1
                if (run > maxRun) maxRun = run
                if (firstMs < 0) firstMs = t(j)
              } else run = 0
              j += 1
            }
            Iterator.single((conv, (n - 1).toLong, r4d(math.min(d0, d1)),
              nb, maxRun, firstMs))
          }
        }
    }.toDF("conv_id", "n_gaps", "total_cost", "n_burst", "max_burst_run",
        "first_burst_ms")
  }

  /** Maximum drawdown of the per-series CUMULATIVE metric (the classic
    * peak-to-trough statistic, here over the running total of a turn
    * metric — e.g. cumulative text volume): dd_t = (max_{s≤t} C_s) − C_t,
    * max_dd = max_t dd_t, reported with the FIRST index attaining it
    * (0 when the cumulative never dips, i.e. all values ≥ 0). Three
    * running windows sharing ONE conv-ordered sort (cumsum, running max,
    * first-argmax) + one partial agg; all-integer on integer-valued
    * series. Output: (conv_id, n_obs, max_drawdown, at_idx).
    */
  def drawdown(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("idx", row_number().over(w))
      .withColumn("cum", sum(col(valueCol)).over(w))
      .withColumn("dd", max(col("cum")).over(w) - col("cum"))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        // argmax in ONE partial agg (max dd, ties → earliest idx) instead
        // of a second whole-partition window pass + post-join
        max(struct(col("dd").as("dd"), negate(col("idx")).as("nidx")))
          .as("mx"))
      .select(col("conv_id"), col("n_obs"),
        col("mx").getField("dd").as("max_drawdown"),
        negate(col("mx").getField("nidx")).cast("int").as("at_idx"))
  }

  /** Role diversity per conversation via EXACT rational indices (no
    * transcendentals — libm log() differs in the last ulp across engines,
    * so entropy is not oracle-replayable; Gini impurity and inverse
    * Simpson are): impurity = 1 − Σ_r (c_r/n)², inv_simpson = n²/Σ_r c_r²
    * ("effective number of roles"). One two-level partial agg; integer
    * sums throughout. Output: (conv_id, n_obs, n_roles, impurity,
    * inv_simpson).
    */
  def roleDiversity(transcripts: DataFrame): DataFrame =
    transcripts
      .groupBy("conv_id", "role")
      .agg(count(lit(1)).as("c"))
      .groupBy("conv_id")
      .agg(sum("c").as("n_obs"), count(lit(1)).as("n_roles"),
        sum(col("c") * col("c")).as("sc2"))
      .select(col("conv_id"), col("n_obs"), col("n_roles"),
        r4(lit(1.0) - col("sc2").cast("double") /
          (col("n_obs") * col("n_obs"))).as("impurity"),
        r4((col("n_obs") * col("n_obs")).cast("double") / col("sc2"))
          .as("inv_simpson"))

  /** Longest active-day streak per series (gaps-and-islands): over the
    * distinct calendar day indices, consecutive runs are islands keyed by
    * the classic idx − row_number() constant; reports the island count
    * and the longest streak (ties → earliest start). All-integer: one
    * conv-partitioned window + two partial aggs. Output: (conv_id,
    * n_days, n_streaks, longest, longest_start_idx).
    */
  def streaks(daySeries: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("idx")
    daySeries
      .select(col("conv_id"), col("idx").cast("int"))
      .withColumn("isl", col("idx") - row_number().over(w))
      .groupBy("conv_id", "isl")
      .agg(count(lit(1)).as("len"), min("idx").as("start"))
      .groupBy("conv_id")
      .agg(sum("len").as("n_days"), count(lit(1)).as("n_streaks"),
        max("len").as("longest"),
        min(struct(negate(col("len")), col("start")))
          .getField("start").as("longest_start_idx"))
  }

  /** Spearman rank correlation of a metric against time order per
    * conversation — the monotonic-trend detector (is this conversation's
    * turn length drifting up or down, in rank terms, robust to outliers).
    * Average ranks are kept EXACT by doubling: 2·avgrank = 2·min_rank +
    * (ties − 1) is an integer, and rho is Pearson on the doubled ranks
    * (scale-invariant), so every aggregate is an integer sum — same
    * exactness contract as [[seriesCorrelation]]: one correctly-rounded
    * sqrt then 4-dp quantization. Integer sums stay below 2^53 for
    * per-conv lengths up to ~2×10^4 (Σ(2r)²·n ≈ 4n³). Ties in the TIME
    * axis cannot occur (turn_idx is unique), value ties are the rank
    * window's business. Output: (conv_id, n_obs, rho).
    */
  def spearmanTrend(metrics: DataFrame, valueCol: String = "value")
      : DataFrame = {
    val wv = Window.partitionBy("conv_id").orderBy(valueCol)
    val wt = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val wties = Window.partitionBy("conv_id", valueCol)
    val ranked = metrics
      .filter(col(valueCol).isNotNull)
      .withColumn("dr",
        (rank().over(wv) * 2 + count(lit(1)).over(wties) - 1).cast("long"))
      .withColumn("dt", (row_number().over(wt) * 2).cast("long"))
    ranked
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum("dr").as("sx"), sum("dt").as("sy"),
        sum(col("dr") * col("dr")).as("sxx"),
        sum(col("dt") * col("dt")).as("syy"),
        sum(col("dr") * col("dt")).as("sxy"))
      .withColumn("vx", col("n_obs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n_obs") * col("syy") - col("sy") * col("sy"))
      .filter(col("n_obs") >= 3 && col("vx") > 0 && col("vy") > 0)
      .select(col("conv_id"), col("n_obs"),
        r4((col("n_obs") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt(col("vx").cast("double") * col("vy").cast("double")))
          .as("rho"))
  }

  /** Ordinal-pattern histogram of order 3 (Bandt-Pompe 2002, minus the
    * entropy — log() is not oracle-replayable; the raw pattern counts
    * are, and they carry the same information): each consecutive triple
    * (v, v', v'') with STRICT orderings is classified into one of the 6
    * permutations; any triple containing a tie counts in `n_tied`. One
    * conv-ordered window (two leads), one partial agg, all integers.
    * Output: (conv_id, n_triples, p123, p132, p213, p231, p312, p321,
    * n_tied) where pabc is the RANK VECTOR of (v1, v2, v3) — position 1
    * has rank a, position 2 rank b, position 3 rank c; e.g. p123 =
    * strictly increasing, p321 = strictly decreasing, p231 = v3 < v1 <
    * v2 (middle value first).
    */
  def ordinalPatterns(metrics: DataFrame, valueCol: String = "value")
      : DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val a = col(valueCol)
    val b = lead(valueCol, 1).over(w)
    val c = lead(valueCol, 2).over(w)
    def n(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    metrics
      .select(col("conv_id"), a.as("a"), b.as("b"), c.as("c"))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_triples"),
        n(col("a") < col("b") && col("b") < col("c")).as("p123"),
        n(col("a") < col("c") && col("c") < col("b")).as("p132"),
        n(col("b") < col("a") && col("a") < col("c")).as("p213"),
        n(col("c") < col("a") && col("a") < col("b")).as("p231"),
        n(col("b") < col("c") && col("c") < col("a")).as("p312"),
        n(col("c") < col("b") && col("b") < col("a")).as("p321"),
        n(col("a") === col("b") || col("b") === col("c") ||
          col("a") === col("c")).as("n_tied"))
  }

  /** Corpus-level role-transition matrix — the Markov-chain view of the
    * conversation protocol: for every adjacent turn pair within a
    * conversation, count (from_role → to_role), and report the exact
    * rational transition share p = n / Σ_to n (4-dp quantized, no
    * transcendentals). One conv-ordered window + a role-pair groupBy
    * whose cardinality is |roles|² — bounded, so the final agg is a
    * near-free shuffle. Output: (from_role, to_role, n, p).
    */
  def roleTransitions(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val pairs = transcripts
      .select(col("conv_id"), col("ts"), col("turn_idx"),
        col("role").as("from_role"))
      .withColumn("to_role", lead("from_role", 1).over(w))
      .filter(col("to_role").isNotNull)
      .groupBy("from_role", "to_role")
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("from_role")
    pairs
      .withColumn("tot", sum("n").over(wf))
      .select(col("from_role"), col("to_role"), col("n"),
        r4(col("n").cast("double") / col("tot")).as("p"))
  }

  /** Dominant seasonality period per series: the lag L in 1..`maxLag`
    * maximizing the sample autocorrelation r_L (ties → smallest lag) —
    * the period-detection step a seasonal model ([[Forecast.holtWinters]],
    * [[seasonalDecompose]]) runs first. Same exact-arithmetic shape as
    * [[acf]] (4-dp-quantized mean, lagged cross-products, one partial agg,
    * quantized variance gate) but at a parameterized lag fan and with the
    * argmax folded in. One conv-ordered window pass computes all `maxLag`
    * lag columns on one sort; constant and too-short series (n ≤
    * maxLag + 1) are excluded. Output: (conv_id, n_obs, period, r).
    */
  def dominantPeriod(metrics: DataFrame, maxLag: Int,
      valueCol: String = "value"): DataFrame = {
    require(maxLag >= 1, "maxLag >= 1")
    val stats = metrics.groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"), r4(avg(col(valueCol))).as("mu"))
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val withLags = (1 to maxLag).foldLeft(
      metrics.join(stats, "conv_id")
        .withColumn("dx", col(valueCol) - col("mu"))) {
      (df, l) => df.withColumn(s"dx$l", lag("dx", l).over(w))
    }
    val aggs = Seq(sum(col("dx") * col("dx")).as("c0")) ++
      (1 to maxLag).map(l => sum(col("dx") * col(s"dx$l")).as(s"c$l"))
    withLags.groupBy("conv_id")
      .agg(first("n_obs").as("n_obs"), aggs: _*)
      .filter(r4(col("c0")) > 0 && col("n_obs") > maxLag + 1)
      // argmax over (r desc, lag asc): array_max on (r, -lag) structs —
      // struct ordering is lexicographic, so negating the lag breaks ties
      // toward the SMALLEST lag
      .withColumn("best", array_max(array(
        (1 to maxLag).map(l =>
          struct(r4(col(s"c$l") / col("c0")).as("r"),
            lit(-l).as("neglag"))): _*)))
      .select(col("conv_id"), col("n_obs"),
        (-col("best.neglag")).cast("int").as("period"),
        // -0.0 can't survive: array_max picked r as a quantized value and
        // the oracle replays the same quantization + 0.0 normalizer
        (col("best.r") + lit(0.0)).as("r"))
  }

  /** Count-process burstiness per series, on the per-minute event-count
    * process over the series' own [min, max] minute span (empty minutes
    * count 0 — they are what burstiness measures): Fano factor var/μ,
    * coefficient of variation σ/μ, and the Goh-Barabási burstiness
    * B = (σ−μ)/(σ+μ) ∈ [−1, 1). Defined on COUNTS, not inter-arrival
    * times, so every aggregate is an integer sum (Σc, Σc² over occupied
    * minutes; the empty-minute zeros contribute nothing) — exact at any
    * scale, sidestepping the 2^53 inter-arrival-squared hazard entirely.
    * Two-level partial agg (minute buckets, then the series), no windows.
    * Output: (conv_id, n_buckets, n_obs, fano, cv, b).
    */
  def burstiness(metrics: DataFrame): DataFrame = {
    val perMin = metrics
      .groupBy(col("conv_id"),
        (ms(col("ts")) - pmod(ms(col("ts")), lit(60000L))).as("mb"))
      .agg(count(lit(1)).as("c"))
    perMin.groupBy("conv_id")
      .agg(
        ((max("mb") - min("mb")) / lit(60000L) + 1).as("n_buckets"),
        sum("c").as("n_obs"),
        sum(col("c") * col("c")).as("sc2"))
      .withColumn("mu", col("n_obs").cast("double") / col("n_buckets"))
      .withColumn("v",
        col("sc2").cast("double") / col("n_buckets") - col("mu") * col("mu"))
      .withColumn("sd", sqrt(greatest(col("v"), lit(0.0))))
      .select(col("conv_id"), col("n_buckets").cast("long").as("n_buckets"),
        col("n_obs").cast("long").as("n_obs"),
        r4(col("v") / col("mu")).as("fano"),
        r4(col("sd") / col("mu")).as("cv"),
        (r4((col("sd") - col("mu")) / (col("sd") + col("mu"))) + lit(0.0))
          .as("b"))
  }

  /** Heartbeat/uptime aggregate (TimescaleDB `heartbeat_agg`): each
    * observation keeps its series "live" for `windowMs` after it; the
    * live time is the measure of the union of intervals [ts_i, ts_i+W) =
    * Σ min(gap_i, W) over adjacent gaps plus the last beat's trailing W,
    * segments split where a gap exceeds W, and dead time is the covered
    * span minus live time. All-integer milliseconds (one conv-ordered
    * window + one partial agg — hash-exact cross-engine by construction).
    * Output: (conv_id, n_beats, n_segments, live_ms, dead_ms).
    */
  def heartbeat(transcripts: DataFrame, windowMs: Long): DataFrame = {
    require(windowMs > 0, "windowMs > 0")
    val w = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    transcripts
      .select(col("conv_id"), ms(col("ts")).as("t"), col("turn_idx"))
      .withColumn("gap", lead("t", 1).over(w) - col("t"))
      .groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_beats"),
        (sum(when(col("gap") > windowMs, 1L).otherwise(0L)) + 1L)
          .as("n_segments"),
        (sum(when(col("gap").isNotNull, least(col("gap"), lit(windowMs)))
          .otherwise(0L)) + windowMs).as("live_ms"),
        (max("t") - min("t") + windowMs).as("span_ms"))
      .select(col("conv_id"), col("n_beats"), col("n_segments"),
        col("live_ms"), (col("span_ms") - col("live_ms")).as("dead_ms"))
  }

  /** Page–Hinkley drift detector (Page 1954 §5; the streaming-drift
    * standard in MOA/river) — [[cusum]]'s running-mean sibling: deviations
    * are measured against the RUNNING mean m_i = S_i/i (exact rational —
    * S_i is an integer cumulative sum, so both engines compute the same
    * double before the shared 4-dp quantization; no mean recursion to
    * replay), and the one-sided statistics recurse with per-step 4-dp
    * quantization exactly like cusum:
    *   U_i = max(0, r4(U_{i−1} + x_i − m_i − δ)),
    *   D_i = max(0, r4(D_{i−1} + m_i − x_i − δ)); alarm when either > λ,
    * both reset after an alarm. Typed sorted-fold kernel, O(1) state, one
    * conv_id shuffle. Output: (conv_id, n_obs, n_alarms, first_alarm_ms,
    * max_stat).
    */
  def pageHinkley(metrics: DataFrame, delta: Double, lambda: Double,
      valueCol: String = "value"): DataFrame = {
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        var s = 0.0 // integer-valued cumulative sum (exact)
        var u = 0.0; var d = 0.0
        var alarms = 0L; var firstMs = -1L; var maxStat = 0.0
        var i = 0
        while (i < rows.length) {
          val y = rows(i)._4
          s += y
          val m = r4d(s / (i + 1))
          val uE = math.max(0.0, r4d(u + y - m - delta))
          val dE = math.max(0.0, r4d(d + m - y - delta))
          maxStat = math.max(maxStat, math.max(uE, dE))
          if (uE > lambda || dE > lambda) {
            alarms += 1
            if (firstMs < 0) firstMs = rows(i)._2
            u = 0.0; d = 0.0
          } else { u = uE; d = dE }
          i += 1
        }
        Iterator.single((conv, rows.length.toLong, alarms, firstMs, maxStat))
    }.toDF("conv_id", "n_obs", "n_alarms", "first_alarm_ms", "max_stat")
  }

  /** Allan variance at cluster size 1 over per-series inter-arrival times
    * (the timing-jitter statistic of the clock-stability literature,
    * Allan 1966): AVAR = Σ(g_{i+1} − g_i)² / (2(n−1)) over consecutive
    * gap pairs, gaps in WHOLE SECONDS (`ms div 1000`) so every aggregate
    * is an exact integer sum (gap seconds ≤ ~10⁶ per pair at any sane
    * cadence keeps Σdiff² < 2⁵³ up to ~10⁹ turns per conversation —
    * beyond the design's per-series bound). One window pass (both lags
    * share the conv sort) + one partial agg; ADEV = √AVAR at 4 dp.
    * Output: (conv_id, n_gaps, avar_s2, adev_s).
    */
  def allanVariance(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    transcripts
      .withColumn("g", (ms(col("ts")) - lag(ms(col("ts")), 1).over(w)))
      .withColumn("gs", expr("g div 1000"))
      .withColumn("dg", col("gs") - lag("gs", 1).over(w))
      .filter(col("dg").isNotNull)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dg") * col("dg")).as("ss"))
      .select(col("conv_id"), (col("n_pairs") + 1).as("n_gaps"),
        r4(col("ss").cast("double") / (lit(2.0) * col("n_pairs")))
          .as("avar_s2"),
        r4(sqrt(col("ss").cast("double") / (lit(2.0) * col("n_pairs"))))
          .as("adev_s"))
  }

  /** Corpus tool-transition matrix — the Markov protocol view of agent
    * tool chains ([[roleTransitions]]' sibling over the tool-turn
    * subsequence): counts and exact rational shares of each
    * (from_tool → to_tool) step within a conversation's consecutive tool
    * calls. One conv-ordered lag over the tool turns + one partial agg
    * into the |tools|²-bounded matrix.
    */
  def toolTransitions(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val pairs = transcripts
      .filter(col("tool").isNotNull)
      .withColumn("from_tool", lag("tool", 1).over(w))
      .filter(col("from_tool").isNotNull)
      .groupBy(col("from_tool"), col("tool").as("to_tool"))
      .agg(count(lit(1)).as("n"))
    pairs.withColumn("p",
      r4(col("n").cast("double") /
        sum("n").over(Window.partitionBy("from_tool"))))
  }

  /** Top-k frequent tool TRIGRAMS over each conversation's time-ordered
    * tool subsequence (the 3-step flow patterns [[toolTransitions]]'s
    * bigram matrix cannot see — interleaved user/assistant turns are
    * skipped, as in [[toolLoops]]). One conv-windowed double-lead pass +
    * a |tools|³-bounded census; all-integer; TakeOrderedAndProject.
    */
  def toolTrigrams(transcripts: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    transcripts.filter(col("tool").isNotNull)
      .select(col("conv_id"), col("ts"), col("turn_idx"),
        col("tool").as("t1"))
      .withColumn("t2", lead("t1", 1).over(w))
      .withColumn("t3", lead("t1", 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  /** Local-level Kalman filter (the steady-state generalization of EWMA —
    * Harvey 1989 §2; state x, variance P, per step:
    * K = r4(P/(P+R)); x = r4(x + K·(z − x)); P = r4((1−K)·P + Q)), every
    * state 4-dp-quantized so the DuckDB recursive-CTE oracle replays the
    * recursion exactly (the holt/ewma contract). First observation
    * initializes x = r4(z), P = 1, K = 0. Typed sorted-fold kernel per
    * conversation, one conv_id shuffle, O(1) state. Output:
    * (conv_id, idx, value, k_gain, x_hat, p_var).
    */
  def kalmanLevel(metrics: DataFrame, qVar: Double, rVar: Double,
      valueCol: String = "value"): DataFrame = {
    require(qVar > 0 && rVar > 0, "process/observation variances > 0")
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        var x = 0.0; var p = 0.0
        rows.iterator.zipWithIndex.map { case ((_, _, _, z), i) =>
          var k = 0.0
          if (i == 0) { x = r4d(z); p = 1.0 }
          else {
            k = r4d(p / (p + rVar))
            x = r4d(x + k * (z - x))
            p = r4d((1 - k) * p + qVar)
          }
          (conv, i + 1, z, k, x, p)
        }
    }.toDF("conv_id", "idx", "value", "k_gain", "x_hat", "p_var")
  }

  /** Tool-call loop detection — the agent-transcript retry-loop screen.
    * Over a conversation's time-ordered TOOL turns (`tool IS NOT NULL`;
    * interleaved user/assistant turns are skipped, because an agent loop
    * is tool→reply→same tool→reply…), a *run* is a maximal streak of
    * consecutive tool turns invoking the same tool; a run of length ≥
    * `minLoop` is flagged as a loop. Run ids come from the classic
    * change-flag running sum, sharing ONE conv-ordered sort with the lag
    * (single window pass), then two partial aggs over the ratio-smaller
    * run relation. All-integer output — hash-exact cross-engine:
    * (conv_id, n_tool_turns, n_runs, max_run, n_loops).
    */
  def toolLoops(transcripts: DataFrame, minLoop: Int): DataFrame = {
    require(minLoop >= 2, "a loop needs at least 2 consecutive calls")
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val run = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    transcripts
      .filter(col("tool").isNotNull)
      .withColumn("chg",
        when(lag("tool", 1).over(w).isNull ||
          lag("tool", 1).over(w) =!= col("tool"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg").over(run))
      .groupBy(col("conv_id"), col("run_id"))
      .agg(count(lit(1)).as("len"))
      .groupBy("conv_id")
      .agg(
        sum("len").as("n_tool_turns"),
        count(lit(1)).as("n_runs"),
        max("len").as("max_run"),
        sum(when(col("len") >= minLoop, 1L).otherwise(0L)).as("n_loops"))
  }

  /** Retry-echo screen — consecutive near-duplicate turns (an agent retry
    * storm re-issues the same message): a turn is an *echo* when its
    * (role, fingerprint) equals the previous time-ordered turn's. The
    * fingerprint column lets callers normalize away per-turn noise (our
    * fixture text embeds `conv:turn_idx:` — the caller strips it; raw
    * text is the degenerate identity choice). Echo streak lengths come
    * from the run-id trick over the SAME single sort; share is 4-dp
    * quantized at the output boundary. Output: (conv_id, n_turns,
    * n_echoes, max_echo_run, echo_share).
    */
  def retryEcho(transcripts: DataFrame, fingerprint: Column): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val run = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = transcripts
      .withColumn("fp", fingerprint)
      .withColumn("echo",
        when(lag("fp", 1).over(w) === col("fp") &&
          lag("role", 1).over(w) === col("role"), 1L).otherwise(0L))
      .withColumn("grp", sum(lit(1L) - col("echo")).over(run))
    flagged
      .groupBy(col("conv_id"), col("grp"))
      .agg(count(lit(1)).as("n_g"), sum("echo").as("streak"))
      .groupBy("conv_id")
      .agg(
        sum("n_g").as("n_turns"),
        sum("streak").as("n_echoes"),
        max("streak").as("max_echo_run"))
      .withColumn("echo_share",
        r4(col("n_echoes").cast("double") / col("n_turns")))
  }

  /** Partial autocorrelation at lags 1..3 via Durbin–Levinson over the
    * 4-dp-quantized [[acf]] coefficients (Box-Jenkins AR-order
    * identification — the PACF cutoff picks p). Every Durbin–Levinson
    * intermediate (φ22, φ21, the level-3 denominator) is re-quantized at
    * 4 dp, so both engines run the identical fixed-operand-order scalar
    * recursion on identical inputs — deterministic cross-engine with no
    * float-drift exposure. Quantized gates drop series where the
    * recursion is undefined (|r1| = 1 or a zero level-3 denominator).
    * Pure scalar post-processing of the acf relation: no extra shuffle
    * beyond [[acf]]'s own.
    */
  def pacf(metrics: DataFrame, valueCol: String = "value"): DataFrame =
    acf(metrics, valueCol)
      .withColumn("den1", r4(lit(1.0) - col("r1") * col("r1")))
      .filter(col("den1") > 0)
      .withColumn("p22",
        r4((col("r2") - col("r1") * col("r1")) / col("den1")))
      .withColumn("p21", r4(col("r1") - col("p22") * col("r1")))
      .withColumn("den3", r4(lit(1.0) - col("p21") * col("r1") -
        col("p22") * col("r2")))
      .filter(col("den3") =!= 0)
      .withColumn("p33", r4((col("r3") - col("p21") * col("r2") -
        col("p22") * col("r1")) / col("den3")))
      .select(col("conv_id"), col("n_obs"),
        col("r1").as("p1"), col("p22").as("p2"), col("p33").as("p3"))

  /** Empirical semivariogram at lags 1..3 (turn-index lags):
    * γ(k) = Σ(x_t − x_{t−k})² / (2·m_k) with m_k the count of defined
    * pairs — the geostatistics noise/roughness profile (γ(1) ≈ process
    * variance for white noise, ≪ variance for smooth series). All
    * squared differences are integer-valued, so the sums are exact in
    * double regardless of partial-agg order; the one division per lag is
    * quantized at the output boundary. One window pass carrying three
    * lags + one partial agg. Series need ≥ 4 observations so all three
    * lags are defined.
    */
  def variogram(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val v = col(valueCol)
    metrics
      .withColumn("d1", v - lag(valueCol, 1).over(w))
      .withColumn("d2", v - lag(valueCol, 2).over(w))
      .withColumn("d3", v - lag(valueCol, 3).over(w))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("d1") * col("d1")).as("s1"), count(col("d1")).as("m1"),
        sum(col("d2") * col("d2")).as("s2"), count(col("d2")).as("m2"),
        sum(col("d3") * col("d3")).as("s3"), count(col("d3")).as("m3"))
      .filter(col("m3") > 0)
      .select(col("conv_id"), col("n_obs"),
        r4(col("s1") / (lit(2.0) * col("m1"))).as("g1"),
        r4(col("s2") / (lit(2.0) * col("m2"))).as("g2"),
        r4(col("s3") / (lit(2.0) * col("m3"))).as("g3"))
  }

  /** Wald–Wolfowitz runs test for randomness about the median: values
    * above the per-series median map to +1, below to −1, ties at the
    * median drop (the classical treatment); R = number of maximal
    * same-sign runs in time order. z = (R − μ_R)/σ_R with
    * μ_R = 2·n1·n2/n + 1 and σ²_R = 2·n1·n2(2·n1·n2 − n)/(n²(n−1)).
    * The median is the sorted element at position ⌈n/2⌉ (the
    * rollingQuantile discrete-position contract — integer-exact, no
    * interpolation); n1/n2/R are integers, and the z expression is ONE
    * fixed-operand-order float formula over them — deterministic
    * cross-engine. Two conv-partitioned window passes (one by value for
    * the median rank, one by time for run boundaries) + one partial agg.
    */
  def runsTest(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val byVal = Window.partitionBy("conv_id").orderBy(col(valueCol))
    val med = metrics
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n_all",
        count(lit(1)).over(Window.partitionBy("conv_id")))
      .filter(col("rn") === floor((col("n_all") + 1) / lit(2.0)))
      .select(col("conv_id"), col(valueCol).as("med"), col("n_all"))
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val signed = metrics.join(med, "conv_id")
      .withColumn("s",
        when(col(valueCol) > col("med"), 1)
          .when(col(valueCol) < col("med"), -1))
      .filter(col("s").isNotNull)
      .withColumn("chg",
        when(lag("s", 1).over(w).isNull ||
          lag("s", 1).over(w) =!= col("s"), 1L).otherwise(0L))
    val agg = signed.groupBy("conv_id")
      .agg(first("n_all").as("n_obs"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).as("n2"),
        sum("chg").as("runs"))
      .filter(col("n1") > 0 && col("n2") > 0 &&
        col("n1") + col("n2") > 1)
    val nn = (col("n1") + col("n2")).cast("double")
    val twoN1N2 = lit(2.0) * col("n1") * col("n2")
    val mu = twoN1N2 / nn + lit(1.0)
    val sg = (twoN1N2 * (twoN1N2 - nn)) / (nn * nn * (nn - lit(1.0)))
    agg
      .withColumn("mu", mu).withColumn("sg", sg)
      .filter(col("sg") > 0)
      .select(col("conv_id"), col("n_obs"), col("n1"), col("n2"),
        col("runs"),
        r4((col("runs") - col("mu")) / sqrt(col("sg"))).as("z"))
  }

  /** SRE incident ledger over the arrival stream: an INCIDENT is an
    * inter-observation gap exceeding `gapMs` (the heartbeat-loss rule).
    * Per series: incident count, total downtime (Σ incident gaps),
    * availability = 1 − downtime/span, MTTR = mean incident duration,
    * MTBF = mean ms between incident STARTS (the ts of the observation
    * preceding the gap) — the SRE-workbook triple. Counts/sums are exact
    * integers; the three ratios are single fixed-operand-order divisions
    * quantized at the output boundary; −1 sentinels where undefined
    * (no incidents / fewer than two). One time-ordered window pass + one
    * partial agg — inherits the rollup's conv-hash partitioning story.
    */
  def incidentLedger(metrics: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val d = metrics
      .withColumn("t", ms(col("ts")))
      .withColumn("gap", col("t") - lag("t", 1).over(w))
      .withColumn("inc_start", when(col("gap") > gapMs, lag("t", 1).over(w)))
    d.groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        min("t").as("t0"), max("t").as("t1"),
        sum(when(col("gap") > gapMs, 1L).otherwise(0L)).as("n_inc"),
        sum(when(col("gap") > gapMs, col("gap")).otherwise(0L))
          .as("down_ms"),
        min("inc_start").as("fs"), max("inc_start").as("ls"))
      .filter(col("t1") > col("t0"))
      .select(col("conv_id"), col("n_obs"), col("n_inc"), col("down_ms"),
        r4(lit(1.0) -
          col("down_ms").cast("double") / (col("t1") - col("t0")))
          .as("avail"),
        when(col("n_inc") > 0,
          r4(col("down_ms").cast("double") / col("n_inc")))
          .otherwise(lit(-1.0)).as("mttr_ms"),
        when(col("n_inc") > 1,
          r4((col("ls") - col("fs")).cast("double") /
            (col("n_inc") - lit(1))))
          .otherwise(lit(-1.0)).as("mtbf_ms"))
  }

  /** Per-series movement profile over first differences — the sawtooth /
    * plateau screen a fleet dashboard runs before trusting trend ops:
    * n_up/n_down/n_flat census of d_t = x_t − x_{t−1}, and n_flips = the
    * number of direction reversals among the non-zero moves (zero moves
    * are transparent, the standard turning-point treatment). All-integer
    * output — hash-exact cross-engine by construction, no rounding
    * contract at all. One time-ordered window pass for the diffs, a
    * second over only the non-zero moves for reversals (same conv_id
    * partitioning — one shuffle total), one partial agg each side.
    */
  def movementProfile(metrics: DataFrame,
      valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val d = metrics
      .withColumn("d", col(valueCol) - lag(valueCol, 1).over(w))
    val base = d.groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("d") < 0, 1L).otherwise(0L)).as("n_down"),
        sum(when(col("d") === 0, 1L).otherwise(0L)).as("n_flat"))
    val flips = d.filter(col("d") =!= 0)
      .withColumn("sg", when(col("d") > 0, 1).otherwise(-1))
      .withColumn("flip",
        when(lag("sg", 1).over(w).isNotNull &&
          lag("sg", 1).over(w) =!= col("sg"), 1L).otherwise(0L))
      .groupBy("conv_id").agg(sum("flip").as("n_flips"))
    base.join(flips, Seq("conv_id"), "left")
      .select(col("conv_id"), col("n_obs"), col("n_up"), col("n_down"),
        col("n_flat"), coalesce(col("n_flips"), lit(0L)).as("n_flips"))
  }

  /** Haar multiresolution energy spectrum over each series' first 2^L
    * values (L=3): energy at detail levels 1..3 plus the approximation,
    * the wavelet answer to "is the variation turn-to-turn jitter or a
    * slow drift". Unnormalized Haar coefficients are integer sums and
    * differences of integer-valued inputs; each level-k energy divides by
    * 2^k (exactly representable), so Parseval holds EXACTLY:
    * ea + e3 + e2 + e1 = Σ v² (emitted as `total_sq`, the in-row
    * certificate). One partial agg pivots the 8 values (conditional sums
    * — no window, no explode, one shuffle); the coefficient cascade is
    * pure projection arithmetic. Series shorter than 8 are skipped.
    */
  def haarEnergy(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val first8 = metrics
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 8)
      .groupBy("conv_id")
      .agg((count(lit(1)) === 8).as("full"), (0 until 8).map(i =>
        sum(when(col("rn") === i + 1, col(valueCol))).as(s"s$i")): _*)
      .filter(col("full"))
    val s = (0 until 8).map(i => col(s"s$i"))
    val a1 = (0 until 4).map(j => s(2 * j) + s(2 * j + 1))
    val d1 = (0 until 4).map(j => s(2 * j) - s(2 * j + 1))
    val a2 = (0 until 2).map(j => a1(2 * j) + a1(2 * j + 1))
    val d2 = (0 until 2).map(j => a1(2 * j) - a1(2 * j + 1))
    val a3 = a2(0) + a2(1)
    val d3 = a2(0) - a2(1)
    def sq(c: Column) = c * c
    first8.select(col("conv_id"),
      (sq(a3) / 8).as("ea"),
      (sq(d3) / 8).as("e3"),
      (d2.map(sq).reduce(_ + _) / 4).as("e2"),
      (d1.map(sq).reduce(_ + _) / 2).as("e1"),
      (s.map(sq).reduce(_ + _)).as("total_sq"))
  }

  /** Lag-1 Granger-causality screen, user → assistant: per conversation,
    * does the PRECEDING user turn's length improve the prediction of an
    * assistant turn's length beyond the previous assistant turn's?
    * Restricted OLS y~(1,u) vs full y~(1,u,x) in closed form (2×2 normal
    * equations over centered sums), F = (RSSr−RSSf)(n−3)/RSSf. Exactness
    * contract: every moment sum is a sum of integer-valued products
    * (exact below 2^53); the centered sums, determinant, and F are then
    * IDENTICAL double expressions in both engines (correctly-rounded IEEE
    * ops in the same order), 4-dp-quantized only at the output boundary.
    * One conv-ordered window builds the (y,u,x) triples, one partial agg
    * collects the 9 moments — a single shuffle. Degenerate fits (n<8 or
    * a singular design) are dropped.
    */
  def grangerScreen(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val wa = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val rows = Regularize.withMetrics(transcripts)
      .withColumn("prev_user",
        last(when(col("role") === "user", col("text_len")), ignoreNulls = true)
          .over(before))
      .filter(col("role") === "assistant")
      .withColumn("u", lag("text_len", 1).over(wa))
      .filter(col("u").isNotNull && col("prev_user").isNotNull)
      .select(col("conv_id"), col("text_len").as("y"), col("u"),
        col("prev_user").as("x"))
    val m = rows.groupBy("conv_id").agg(
      count(lit(1)).cast("double").as("n"),
      sum("y").as("sy"), sum("u").as("su"), sum("x").as("sx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("u") * col("u")).as("suu0"),
      sum(col("x") * col("x")).as("sxx0"),
      sum(col("u") * col("y")).as("suy0"),
      sum(col("x") * col("y")).as("sxy0"),
      sum(col("u") * col("x")).as("sux0"))
    m.select(col("conv_id"), col("n").cast("long").as("n_pairs"),
        (col("syy") - col("sy") * col("sy") / col("n")).as("Syy"),
        (col("suu0") - col("su") * col("su") / col("n")).as("Suu"),
        (col("sxx0") - col("sx") * col("sx") / col("n")).as("Sxx"),
        (col("suy0") - col("su") * col("sy") / col("n")).as("Suy"),
        (col("sxy0") - col("sx") * col("sy") / col("n")).as("Sxy"),
        (col("sux0") - col("su") * col("sx") / col("n")).as("Sux"))
      .withColumn("det", col("Suu") * col("Sxx") - col("Sux") * col("Sux"))
      .filter(col("n_pairs") >= 8 && col("Suu") > 0 && col("det") > 0)
      .withColumn("xc",
        (col("Sxy") * col("Suu") - col("Suy") * col("Sux")) / col("det"))
      .withColumn("bc",
        (col("Suy") * col("Sxx") - col("Sxy") * col("Sux")) / col("det"))
      .withColumn("rssf",
        col("Syy") - col("bc") * col("Suy") - col("xc") * col("Sxy"))
      .withColumn("rssr",
        col("Syy") - col("Suy") * col("Suy") / col("Suu"))
      .filter(col("rssf") > 0 && col("rssr") > 0)
      .select(col("conv_id"), col("n_pairs"),
        r4(col("xc")).as("x_coef"),
        r4((col("rssr") - col("rssf")) * (col("n_pairs") - 3) / col("rssf"))
          .as("f_stat"),
        r4((col("rssr") - col("rssf")) / col("rssr")).as("r2_gain"))
  }

  /** Dickey–Fuller unit-root screen (Dickey & Fuller 1979, the no-lag DF
    * regression with intercept): per series regress Δy_t on y_{t−1},
    *   Δy_t = a + β·y_{t−1} + ε_t,
    * in closed form from SIX integer partial sums (n, Σx, Σd, Σx², Σxd,
    * Σd² with x = y_{t−1}, d = Δy — both integer on integer-valued
    * series), the [[grangerScreen]] design: the shuffle moves exact
    * integer sums, and every float operation afterwards is ONE fixed-
    * operand-order per-group expression — bit-identical cross-engine, no
    * aggregation-order exposure at any corpus size. β̂ = Sxd/Sxx,
    * SSE = Sdd − β̂·Sxd, t = β̂ / √(SSE/((n−2)·Sxx)). A stationary
    * (mean-reverting) series drives β̂ < 0 with large |t|; a random walk
    * keeps β̂ ≈ 0. `stationary` = t < −2.86 (the 5% DF critical value for
    * large n with intercept — a screen, not a calibrated test at small n).
    * Output: (conv_id, n_pairs, beta, t_stat, stationary); series need
    * ≥ 8 pairs, positive regressor variance and positive SSE.
    */
  def adfScreen(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("x", lag(valueCol, 1).over(w))
      .filter(col("x").isNotNull)
      .withColumn("d", col(valueCol) - col("x"))
      .groupBy("conv_id")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("x").as("sx"), sum("d").as("sd"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("d")).as("sxd"),
        sum(col("d") * col("d")).as("sdd"))
      .withColumn("vx", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("cxd", col("sxd") - col("sx") * col("sd") / col("n"))
      .withColumn("vd", col("sdd") - col("sd") * col("sd") / col("n"))
      .filter(col("n") >= 8 && col("vx") > 0)
      .withColumn("beta", col("cxd") / col("vx"))
      .withColumn("sse", col("vd") - col("beta") * col("cxd"))
      .filter(col("sse") > 0)
      .withColumn("t",
        col("beta") / sqrt(col("sse") / ((col("n") - 2) * col("vx"))))
      .select(col("conv_id"), col("n").cast("long").as("n_pairs"),
        r4(col("beta")).as("beta"), r4(col("t")).as("t_stat"),
        (col("t") < lit(-2.86)).as("stationary"))
  }

  /** Moving-average crossover signals (the trading golden/death-cross
    * screen, applied to conversational intensity): fast SMA over the
    * trailing `fast` observations vs slow SMA over the trailing `slow`.
    * The comparison is INTEGER cross-multiplication — Σ_fast·slow vs
    * Σ_slow·fast — so the state is exact (a float mean's last ulp can
    * never flip a crossing). State is defined from the first FULL slow
    * window (row ≥ slow); a golden cross is a false→true state flip,
    * a death cross the reverse. Two conv-partitioned window passes
    * sharing the same sort order + one partial agg. Output per series:
    * (conv_id, n_obs, n_golden, n_death, first_golden_ms) with -1 when
    * no golden cross occurs.
    */
  def smaCross(metrics: DataFrame, fast: Int, slow: Int,
      valueCol: String = "value"): DataFrame = {
    require(fast >= 1 && slow > fast, "need slow > fast >= 1")
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val wf = w.rowsBetween(-(fast - 1), 0)
    val ws = w.rowsBetween(-(slow - 1), 0)
    val staged = metrics
      .withColumn("rn", row_number().over(w))
      .withColumn("sf", sum(valueCol).over(wf))
      .withColumn("ss", sum(valueCol).over(ws))
      .filter(col("rn") >= slow)
      .withColumn("state", col("sf") * slow > col("ss") * fast)
    val w2 = Window.partitionBy("conv_id").orderBy("rn")
    staged
      .withColumn("prev", lag("state", 1).over(w2))
      .withColumn("golden",
        when(col("prev").isNotNull && !col("prev") && col("state"), 1L)
          .otherwise(0L))
      .withColumn("death",
        when(col("prev").isNotNull && col("prev") && !col("state"), 1L)
          .otherwise(0L))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum("golden").as("n_golden"), sum("death").as("n_death"),
        coalesce(min(when(col("golden") === 1, ms(col("ts")))), lit(-1L))
          .as("first_golden_ms"))
  }

  /** Token-bucket rate-limiter replay over each conversation's arrival
    * stream — the ops question "which agents would a C-burst / r-sustained
    * limiter throttle, and when". Units are MICRO-tokens with an integer
    * per-millisecond refill, so the state machine is ALL-INTEGER (no
    * fractional-refill carry to lose): on each arrival,
    *   tokens = min(capacity, tokens + (t − t_prev)·ratePerMs)
    *   allowed ⇔ tokens ≥ cost;  allowed ⇒ tokens −= cost
    * starting from a full bucket. Exactly replayable by a recursive-CTE
    * oracle; one sorted-fold kernel per conversation (O(1) state, one
    * conv_id shuffle). Output: (conv_id, n_events, n_allowed, n_denied,
    * first_denied_ms) with -1 when nothing is throttled.
    */
  def tokenBucket(metrics: DataFrame, capacityMicro: Long,
      ratePerMsMicro: Long, costMicro: Long): DataFrame = {
    require(capacityMicro >= costMicro && ratePerMsMicro > 0 && costMicro > 0,
      "bucket must hold at least one request")
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics) {
      (conv, rows: Array[(String, Long, Int)]) =>
        var tokens = capacityMicro
        var prevT = rows.head._2
        var allowed = 0L; var denied = 0L; var firstDen = -1L
        rows.foreach { case (_, t, _) =>
          tokens = math.min(capacityMicro, tokens + (t - prevT) * ratePerMsMicro)
          if (tokens >= costMicro) { allowed += 1; tokens -= costMicro }
          else { denied += 1; if (firstDen < 0) firstDen = t }
          prevT = t
        }
        Iterator.single((conv, rows.length.toLong, allowed, denied, firstDen))
    }.toDF("conv_id", "n_events", "n_allowed", "n_denied", "first_denied_ms")
  }

  /** EWMA control chart (Roberts 1959 — the third classic SPC screen next
    * to [[cusum]] and [[pageHinkley]]): exponentially-weighted mean AND
    * variance, both 4-dp-quantized per step,
    *   m_t = r4(α·y + (1−α)·m),  v_t = r4(α·(y − m_{t−1})² + (1−α)·v)
    * with a breach when (y − m_{t−1})² > k²·v_{t−1} (squared comparison —
    * no sqrt in the contract; k² is a shared literal) and v_{t−1} > 0.
    * Init m = y₁, v = 0, so breaches can only start at the third point.
    * Same fold-kernel/recursive-CTE-oracle shape as holt. Output:
    * (conv_id, n_obs, n_breach, first_breach_ms, m_final, v_final).
    */
  def ewmaChart(metrics: DataFrame, alpha: Double, k: Double,
      valueCol: String = "value"): DataFrame = {
    require(alpha > 0 && alpha <= 1 && k > 0, "alpha in (0,1], k > 0")
    val k2 = k * k
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        var m = rows.head._4
        var v = 0.0
        var breach = 0L; var firstB = -1L
        rows.iterator.drop(1).foreach { case (_, t, _, y) =>
          val d2 = (y - m) * (y - m)
          if (v > 0 && d2 > k2 * v) {
            breach += 1; if (firstB < 0) firstB = t
          }
          v = r4d(alpha * d2 + (1 - alpha) * v)
          m = r4d(alpha * y + (1 - alpha) * m)
        }
        Iterator.single((conv, rows.length.toLong, breach, firstB, m, v))
    }.toDF("conv_id", "n_obs", "n_breach", "first_breach_ms",
        "m_final", "v_final")
  }

  /** Day-of-week effect one-way ANOVA per series: does the metric's level
    * differ by weekday? Groups g ∈ 0..6 (epoch-arithmetic dow — the
    * [[Features.dowHourProfile]] timezone-free rule: (epochDay+4) mod 7,
    * 0=Sunday), SS_between = Σ_g S_g²/n_g − S²/n and
    * SS_within = Σv² − Σ_g S_g²/n_g from INTEGER per-group sums — the agg
    * is (conv, dow)-keyed (≤7 rows per conv) and the F ratio is one
    * fixed-order expression per conv. η² = SSB/SST is the effect size.
    * Series need ≥ 2 weekday groups, more observations than groups, and
    * positive within variance. Output: (conv_id, n_obs, k_groups, f_stat,
    * eta_sq).
    */
  def dowAnova(metrics: DataFrame, valueCol: String = "value"): DataFrame = {
    val dow = pmod(floor(ms(col("ts")) / lit(86400000L)) + lit(4L), lit(7L))
      .cast("int")
    metrics
      .groupBy(col("conv_id"), dow.as("dow"))
      .agg(count(lit(1)).cast("double").as("ng"),
        sum(valueCol).as("sg"),
        sum(col(valueCol) * col(valueCol)).as("sqg"))
      .groupBy("conv_id")
      .agg(sum("ng").as("n"), count(lit(1)).cast("double").as("k"),
        sum("sg").as("s"), sum("sqg").as("sq"),
        sum(col("sg") * col("sg") / col("ng")).as("sgg"))
      .withColumn("ssb", col("sgg") - col("s") * col("s") / col("n"))
      .withColumn("ssw", col("sq") - col("sgg"))
      .filter(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0)
      .select(col("conv_id"), col("n").cast("long").as("n_obs"),
        col("k").cast("long").as("k_groups"),
        r4((col("ssb") / (col("k") - 1)) /
          (col("ssw") / (col("n") - col("k")))).as("f_stat"),
        r4(col("ssb") / (col("ssb") + col("ssw"))).as("eta_sq"))
  }
}
