package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GridSeries.ms
import Rounding.{r4, r4d}

/** Visualization-grade downsampling and series analytics over the metric
  * relation — the "downsample" leg of the north rule's rollup + downsample +
  * retention triad, beyond plain bucket aggregates:
  *
  *  - [[m4]]: M4 downsampling (Jugel et al., VLDB 2014) — per (series,
  *    bucket) keep min/max/first/last, the error-free envelope for
  *    width-bounded line rendering. Purely relational: one partially-
  *    aggregated groupBy, so it scales exactly like the 1m rollup.
  *  - [[gapReport]]: per-series gap statistics (count/max/total idle over a
  *    threshold) — the heartbeat/coverage primitive retention decisions
  *    read. One lag window per series + one partial agg.
  *  - [[counterRate]]: per-bucket delta and per-second rate of a
  *    cumulative counter (TimescaleDB `counter_agg`/`rate` shape, without
  *    reset handling — turn counters are monotone). Window cumsum + one
  *    partial agg.
  *  - [[sax]]: Symbolic Aggregate approXimation (Lin et al. 2003):
  *    z-normalize per series, PAA into fixed segments, map to an alphabet
  *    by N(0,1) breakpoints. All arithmetic quantized to the house 4-dp
  *    contract so the symbol string is integer-exact cross-engine.
  *
  * All four are one-shuffle-per-series-key shapes: no self-joins, no
  * single-partition funnels, no driver loops — at 10^12 turns they inherit
  * the rollup's salting/partitioning story unchanged.
  */
object Downsample {

  /** M4 per (conv, bucket): the four extreme points (value min/max, first/
    * last by time) that bound every pixel-column rendering error at zero.
    * Output one row per bucket with the four values + their timestamps.
    */
  def m4(metrics: DataFrame, bucketExpr: Column,
      valueCol: String = "value",
      ord: Column = col("ts")): DataFrame =
    metrics
      .groupBy(col("conv_id"), bucketExpr.as("bucket_ts"))
      .agg(
        min(col(valueCol)).as("v_min"),
        max(col(valueCol)).as("v_max"),
        // `ord` must be a TOTAL order within (conv, bucket) — pass a
        // struct(ts, turn_idx) when timestamps can collide, or first/last
        // are tie-nondeterministic and oracle-unverifiable
        min_by(col(valueCol), ord).as("v_first"),
        max_by(col(valueCol), ord).as("v_last"),
        min("ts").as("t_first"),
        max("ts").as("t_last"),
        count(lit(1)).as("n"))

  /** The render router's granularity choice: the COARSEST of day/hour/
    * minute whose ceil'd bucket count across [fromMs, toMs) still fills a
    * `widthPx`-pixel chart (≥ 1 bucket per pixel column keeps M4's
    * zero-error guarantee meaningful); minute if even that is too coarse.
    * Pure integer arithmetic — deterministic, replayed as a CASE chain in
    * the oracle.
    */
  def renderGranularity(fromMs: Long, toMs: Long, widthPx: Int): String = {
    require(toMs > fromMs, "empty range")
    require(widthPx > 0, "non-positive pixel budget")
    val span = toMs - fromMs
    def buckets(ms: Long) = (span + ms - 1) / ms
    if (buckets(86400000L) >= widthPx) "day"
    else if (buckets(3600000L) >= widthPx) "hour"
    else "minute"
  }

  /** Pixel-budget downsample dispatch — the query-side companion of the
    * committed `m4-1h` downsample tier ([[graft.runtime.TierPipeline
    * .downsampleTier]]) and [[graft.operators.TierDispatch]]: a dashboard
    * asks for [from, to) at `widthPx` columns, [[renderGranularity]]
    * picks the coarsest granularity that still fills the width, and ONE
    * partial-agg pass emits the global M4 envelope at that granularity —
    * at cluster scale the scan is the matching tier store (day/hour reads
    * hit sealed tiers; only a minute-grade zoom touches raw), and the
    * range filter is a pushable ts predicate either way. first/last are
    * ordered by the total (ts, conv_id, turn_idx) key, so the corpus-wide
    * envelope is deterministic despite cross-conversation ts ties.
    */
  def renderDispatch(metrics: DataFrame, fromMs: Long, toMs: Long,
      widthPx: Int, valueCol: String = "value"): DataFrame = {
    val g = renderGranularity(fromMs, toMs, widthPx)
    val ord = struct(col("ts"), col("conv_id"), col("turn_idx"))
    metrics
      .filter(ms(col("ts")) >= fromMs && ms(col("ts")) < toMs)
      .groupBy(date_trunc(g, col("ts")).as("bucket_ts"))
      .agg(
        min(col(valueCol)).as("v_min"),
        max(col(valueCol)).as("v_max"),
        min_by(col(valueCol), ord).as("v_first"),
        max_by(col(valueCol), ord).as("v_last"),
        count(lit(1)).as("n"))
      .select(lit(g).as("granularity"), col("bucket_ts"),
        col("v_min"), col("v_max"), col("v_first"), col("v_last"), col("n"))
  }

  /** Gap statistics per conversation: inter-observation deltas over the
    * time-ordered series; a delta strictly greater than `thresholdMs`
    * counts as a gap. Returns n_obs, n_gaps, max_gap_ms, idle_ms (sum of
    * gap deltas). Integer milliseconds throughout (unix_millis ≡ DuckDB
    * epoch_ms) — exact cross-engine even on sub-second timestamps.
    */
  def gapReport(metrics: DataFrame, thresholdMs: Long): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .select(col("conv_id"), col("ts"), col("turn_idx"))
      .withColumn("d",
        ms(col("ts")) - ms(lag("ts", 1).over(w)))
      .groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_obs"),
        sum(when(col("d") > thresholdMs, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(when(col("d") > thresholdMs, col("d"))), lit(0L))
          .as("max_gap_ms"),
        coalesce(sum(when(col("d") > thresholdMs, col("d"))), lit(0L))
          .as("idle_ms"))
  }

  /** Counter delta + rate per (conv, bucket) over a MONOTONE cumulative
    * counter column (here: the running turn count / cumulative value sum a
    * window builds upstream). delta = last(counter) − first(counter) within
    * the bucket (by time); rate = delta / bucket-span seconds (first→last
    * observation), 4-dp quantized; single-observation buckets rate 0.
    */
  def counterRate(metrics: DataFrame, bucketExpr: Column,
      counterCol: String, ord: Column = col("ts")): DataFrame =
    metrics
      .groupBy(col("conv_id"), bucketExpr.as("bucket_ts"))
      .agg(
        (max_by(col(counterCol), ord) -
          min_by(col(counterCol), ord)).as("delta"),
        (ms(max("ts")) - ms(min("ts"))).as("span_ms"),
        count(lit(1)).as("n"))
      .withColumn("rate", // per-second rate from the exact ms span
        when(col("span_ms") > 0,
          r4(col("delta").cast("double") * 1000.0 / col("span_ms")))
          .otherwise(lit(0.0)))

  /** Rolling z-score anomaly screen (the 3-sigma rule over a trailing
    * window) — the change-detection primitive for operational series: each
    * observation is scored against the mean/std of its `lookback` PRIOR
    * observations (never itself — no self-masking), flagged when
    * |z| > `sigmas`. Observations without a full lookback are unchecked.
    * One conv-partitioned running window + one partial agg; 4-dp quantized
    * mean/std/z so flags are exact cross-engine. Output per series:
    * (conv_id, n_obs, n_checked, n_anom, first_anom_ms).
    */
  def rollingAnomalies(metrics: DataFrame, lookback: Int, sigmas: Double,
      valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      .rowsBetween(-lookback, -1)
    val scored = metrics
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("mu", r4(avg(col(valueCol)).over(w)))
      .withColumn("sd", r4(sqrt(
        avg(col(valueCol) * col(valueCol)).over(w) -
          avg(col(valueCol)).over(w) * avg(col(valueCol)).over(w))))
      .withColumn("checked", col("wn") === lookback && col("sd") > 0)
      .withColumn("z",
        when(col("checked"), r4((col(valueCol) - col("mu")) / col("sd"))))
      .withColumn("anom", col("checked") && abs(col("z")) > sigmas)
    scored.groupBy("conv_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("checked"), 1L).otherwise(0L)).as("n_checked"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anom"),
        coalesce(min(when(col("anom"),
          ms(col("ts")))), lit(-1L))
          .as("first_anom_ms"))
  }

  /** Per-series Pearson correlation between two bucket-aggregated metrics
    * (e.g. text length vs tool activity on the 1m grid): both metrics are
    * averaged per (conv, bucket) in ONE pass (the multi-band single-shuffle
    * rule), 4-dp quantized, then r = (nΣxy − ΣxΣy) /
    * sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²)) per series. Series with zero
    * variance in either metric drop (r undefined). Output:
    * (conv_id, n_buckets, r).
    */
  def seriesCorrelation(metrics: DataFrame, bucketExpr: Column,
      xCol: String, yCol: String): DataFrame = {
    val b = metrics
      .groupBy(col("conv_id"), bucketExpr.as("bucket_ts"))
      .agg(r4(avg(col(xCol))).as("x"), r4(avg(col(yCol))).as("y"))
    b.groupBy("conv_id")
      .agg(count(lit(1)).as("n_buckets"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      // vx/vy quantized BEFORE the positivity gate: a constant series has
      // variance exactly 0 in math but ±1e-12 in floating point depending
      // on summation order — an unquantized >0 filter could keep the row in
      // one engine and drop it in the other
      .withColumn("vx",
        r4(col("n_buckets") * col("sxx") - col("sx") * col("sx")))
      .withColumn("vy",
        r4(col("n_buckets") * col("syy") - col("sy") * col("sy")))
      .filter(col("vx") > 0 && col("vy") > 0)
      .select(col("conv_id"), col("n_buckets"),
        r4((col("n_buckets") * col("sxy") - col("sx") * col("sy")) /
          sqrt(col("vx") * col("vy"))).as("r"))
  }

  /** Exponentially-weighted moving average per series — the streaming-
    * friendly smoother of the sits_filter family (one state value per
    * series vs the whole-series matrices of Whittaker/Savitzky-Golay):
    * s_1 = r4(y_1); s_i = r4((1−α)·s_{i−1} + α·y_i). Each step is
    * 4-dp-quantized, so the recursion is EXACTLY replayable by the DuckDB
    * recursive-CTE oracle (the bayts state-machine pattern) — no float
    * drift can accumulate across steps. Typed sorted-fold kernel per
    * conversation (the SeriesKernels shape); output one row per
    * observation: (conv_id, idx, value, ewma).
    */
  def ewma(metrics: DataFrame, alpha: Double,
      valueCol: String = "value"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha in (0, 1]")
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        var s = 0.0
        rows.iterator.zipWithIndex.map { case ((_, _, _, y), i) =>
          s = if (i == 0) r4d(y) else r4d((1 - alpha) * s + alpha * y)
          (conv, i + 1, y, s)
        }
    }.toDF("conv_id", "idx", "value", "ewma")
  }

  /** SAX symbolization: per series (time-ordered values), z-normalize with
    * the POPULATION std (4-dp quantized mean/std), average into `segments`
    * equal-count PAA frames (4-dp quantized), and emit one symbol per frame
    * from a 4-letter alphabet split at the N(0,1) quartile breakpoints
    * ±0.6745 (a < b < c < d, `z >= breakpoint` ties upward in both
    * engines). Series shorter than `segments` points and constant series
    * (std 0) are dropped — both filters are relational, so the typed work
    * is bounded to well-formed series. Output: (conv_id, n_points, sax).
    */
  def sax(metrics: DataFrame, segments: Int,
      valueCol: String = "value"): DataFrame = {
    val stats = metrics.groupBy("conv_id")
      .agg(count(lit(1)).as("n"),
        r4(avg(col(valueCol))).as("mu"),
        // population std of the raw values, quantized
        r4(sqrt(avg(col(valueCol) * col(valueCol)) -
          avg(col(valueCol)) * avg(col(valueCol)))).as("sd"))
      .filter(col("n") >= segments && col("sd") > 0)
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val z = metrics.join(stats, "conv_id")
      .withColumn("idx", row_number().over(w) - 1)
      // frame assignment by index: frame i gets points [i*n/seg, (i+1)*n/seg)
      .withColumn("frame",
        floor(col("idx") * segments / col("n")).cast("int"))
      .withColumn("z", r4((col(valueCol) - col("mu")) / col("sd")))
    val paa = z.groupBy(col("conv_id"), col("frame"))
      .agg(r4(avg(col("z"))).as("paa"), first(col("n")).as("n"))
      .withColumn("sym",
        when(col("paa") >= 0.6745, lit("d"))
          .when(col("paa") >= 0.0, lit("c"))
          .when(col("paa") >= -0.6745, lit("b"))
          .otherwise(lit("a")))
    paa.groupBy("conv_id")
      .agg(first("n").as("n_points"),
        // frame-ordered symbol string regardless of ambient partitioning
        expr("array_join(transform(sort_array(collect_list(struct(frame, sym))), p -> p.sym), '')")
          .as("sax"))
  }

  /** Piecewise Aggregate Approximation (Keogh et al. 2001) — the plain-mean
    * k-segment downsample underlying [[sax]], exposed as its own relation
    * (PAA is the standard distance-lower-bounding representation for
    * whole-series indexing; sax quantizes it further to symbols). Frame of
    * the 1-based observation i is ⌊(i−1)·k / n⌋ — the same integer-division
    * frame rule as [[SeriesOps.lttb]], which keeps frames contiguous,
    * non-empty, and balanced for any n ≥ k (series with n < k pass through
    * with one point per frame). Purely relational: one conv-ordered window
    * (the index) + one partial agg; integer sums → exact cross-engine.
    * Output: (conv_id, frame, n_pts, value).
    */
  def paa(metrics: DataFrame, segments: Int,
      valueCol: String = "value"): DataFrame = {
    require(segments >= 1, "segments >= 1")
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    metrics
      .withColumn("i", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
      // floor division ((i-1)·k never within an ulp of a multiple of n at
      // sane magnitudes; Spark `/` is double division)
      .withColumn("frame",
        floor((col("i") - 1) * segments / col("n")).cast("int"))
      .groupBy("conv_id", "frame")
      .agg(count(lit(1)).as("n_pts"), r4(avg(col(valueCol))).as("value"))
  }

  /** Deadband compression (the PI-historian "compression deviation" rule,
    * the keep-on-change half of swinging-door): keep the first observation
    * of each series, then keep observation i iff |y_i − lastKept| >
    * `deviation`; always keep the last observation so the series endpoint
    * survives (historian convention — a dropped tail would misreport the
    * current value). Inherently sequential (the kept-set depends on the
    * previous KEPT value, not the previous value), so — like holt/cusum —
    * a typed sorted-fold kernel per series with O(1) state, one conv_id
    * shuffle, exactly replayable by a recursive-CTE oracle. On
    * integer-valued series with an integer deviation every comparison is
    * integer-exact. Output kept rows: (conv_id, seq, idx, t, value) plus
    * the series length n_obs (seq = rank among kept, idx = original
    * 1-based index).
    */
  def deadband(metrics: DataFrame, deviation: Double,
      valueCol: String = "value"): DataFrame = {
    require(deviation >= 0, "deviation >= 0")
    val spark = metrics.sparkSession
    import spark.implicits._
    GridSeries.byTurn(metrics, col(valueCol).cast("double")) {
      (conv, rows: Array[(String, Long, Int, Double)]) =>
        val n = rows.length
        var lastKept = 0.0
        var seq = 0
        val out = scala.collection.mutable.ArrayBuffer[(String, Int, Int, Long, Double, Long)]()
        var i = 0
        while (i < n) {
          val (_, t, _, y) = rows(i)
          val keep = i == 0 || i == n - 1 || math.abs(y - lastKept) > deviation
          if (keep) {
            seq += 1
            out += ((conv, seq, i + 1, t, y, n.toLong))
            lastKept = y
          }
          i += 1
        }
        out.iterator
    }.toDF("conv_id", "seq", "idx", "t", "value", "n_obs")
  }
}
