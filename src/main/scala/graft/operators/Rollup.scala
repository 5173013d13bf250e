package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tier
import Rounding.r4

/** Temporal rollups — the t_* reduction set of the reference's `sits_reduce`
  * (/root/reference/R/sits_reduce.R:96-203, src/reduce_fns.cpp) as Spark
  * aggregates, plus the continuous-aggregate tier cascade raw→1m→1h→1d.
  *
  * Scale design:
  *  - every aggregate here is partially aggregable (map-side combine), so the
  *    shuffle carries one row per (conv, bucket) group, not raw turns;
  *  - higher tiers re-aggregate *from the lower tier's algebraic state*
  *    ([[cascade]]) — at 10^12 turns the 1d job reads 1h points (5 orders of
  *    magnitude smaller), never raw data;
  *  - holistic stats (median/quantiles) are computed from the finest retained
  *    tier only ([[rollup]]), documented retention contract (SURVEY.md §7.4);
  *  - doubles that are order-of-summation sensitive are rounded to 4 decimals
  *    at the *output boundary* (oracle comparability), never internally.
  *
  * The algebraic tier state (n, Σv, Σv², min, max) is defined once: every
  * state builder aggregates values with [[momentAggs]], every merge (a
  * cascade, the second phase of a salted or global build) combines states
  * with [[momentMerge]], and [[presentState]] is its one user-facing read.
  * A state relation's series identity is its [[stateKeys]]: per-conv state
  * and GLOBAL (conv-less) state go through the same verbs.
  */
object Rollup {

  /** Full t_* rollup of a value series into `tier` buckets. Input:
    * (conv_id, bucket_ts|ts, value). One shuffle; percentiles are exact
    * (sort-based within group — groups bounded by timeline length).
    */
  def rollup(series: DataFrame, tier: Tier, tsCol: String = "bucket_ts"): DataFrame =
    series
      .groupBy(col("conv_id"), date_trunc(tier.unit, col(tsCol)).as("bucket_ts"))
      .agg(
        count(col("value")).as("n"),
        r4(sum("value")).as("sum_v"),
        r4(avg("value")).as("mean_v"),
        min("value").as("min_v"),
        max("value").as("max_v"),
        when(count(col("value")) > 1, r4(stddev_samp(col("value"))))
          .otherwise(lit(null).cast("double")).as("std_v"),
        percentile(col("value"), lit(0.5)).as("med_v"),
        percentile(col("value"), lit(0.25)).as("fqr_v"),
        percentile(col("value"), lit(0.75)).as("tqr_v"),
        r4(max("value") - min("value")).as("amp_v"))
      .withColumn("iqr_v", col("tqr_v") - col("fqr_v"))

  /** Algebraic tier state (n, Σv, Σv², min, max) — the moments carried
    * between tiers. Partial+final aggregation; immune to hot-conv skew
    * because group cardinality is bounded by the tier ratio (≤60 for 1m→1h).
    */
  def tierState(series: DataFrame, tier: Tier, tsCol: String = "bucket_ts"): DataFrame =
    aggregate(series,
      Seq(col("conv_id"), date_trunc(tier.unit, col(tsCol)).as("bucket_ts")),
      momentAggs("value"))

  /** The value→state aggregates of the tier state, the one list every
    * state builder uses: [[tierState]], the first phase of
    * [[tierStateSalted]], [[tierStateGlobal]] and [[tierStateGlobalHist]],
    * and the stream twin [[graft.streaming.StreamingRollup.globalStream]].
    * Every member is commutative, order-insensitive, mergeable state, so
    * stream and batch agree exactly (the [[ohlcAggs]] pattern).
    */
  private[graft] def momentAggs(valueCol: String): Seq[Column] = Seq(
    count(col(valueCol)).as("n"),
    sum(valueCol).as("sum_v"),
    sum(col(valueCol) * col(valueCol)).as("sum2_v"),
    min(valueCol).as("min_v"),
    max(valueCol).as("max_v"))

  /** The state→state merge of [[momentAggs]]' columns, the one list every
    * merge uses: [[cascade]] (so also [[cascadeHist]]) and the second phase
    * of [[tierStateGlobal]] and [[tierStateGlobalHist]].
    */
  private def momentMerge: Seq[Column] = Seq(
    sum("n").as("n"),
    sum("sum_v").as("sum_v"),
    sum("sum2_v").as("sum2_v"),
    min("min_v").as("min_v"),
    max("max_v").as("max_v"))

  /** `df` grouped by `keys`, aggregated by `aggs`. */
  private def aggregate(df: DataFrame, keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Cascade one tier's algebraic state up to the next tier WITHOUT touching
    * finer data — the continuous-aggregate step (our addition per the north
    * rule; the reference recomputes from raw each time, sits_reduce.R).
    * Groups per [[stateKeys]] series, so GLOBAL state merges per bucket
    * only. Columns outside the state, such as a global state's `n_convs`,
    * are DROPPED: a conversation active in two hourly buckets of one day
    * would double-count under summation (distinct counts are not
    * algebraic). Callers needing distinct conversations at coarse tiers
    * recompute from the finer tier or carry an HLL register relation
    * ([[Summary.hllRegisters]] merges by register-wise max).
    */
  def cascade(lowerState: DataFrame, to: Tier): DataFrame =
    aggregate(lowerState,
      stateKeys(lowerState) :+ date_trunc(to.unit, col("bucket_ts")).as("bucket_ts"),
      momentMerge)

  /** Series-identity key of a state relation, the one key rule of every
    * state verb ([[cascade]], [[cascadeHist]], [[histQuantiles]],
    * [[presentState]]): conv_id when present (GLOBAL corpus-wide state has
    * none, so it merges per bucket only), plus the `metric` band dimension
    * when present (multi-band pipeline) — no verb groups across
    * conversations or bands.
    */
  private def stateKeys(df: DataFrame): Seq[Column] =
    stateKeyNames(df).map(col)
  private def stateKeyNames(df: DataFrame): Seq[String] =
    (if (df.columns.contains("conv_id")) Seq("conv_id") else Nil) ++
      (if (df.columns.contains("metric")) Seq("metric") else Nil)

  /** [[cascade]] for quantile-bearing state (`hist` column of
    * [[graft.model.HistCell]] cells): moments merge algebraically as in
    * [[cascade]]; histograms merge by summing counts per log2 cell
    * (explode → partial-agg sum → re-pack sorted). Closes the SURVEY §7.4
    * retention hole: after raw/1m expiry, exact medians are gone but the
    * cascaded histogram still answers p50/p90/p99 upper bounds at 1d/1mo
    * with ≤1-bucket error. Cost scales with TIER-STATE size (already
    * ratio-compressed vs raw), and the exploded relation is ≤65× state
    * rows with map-side combine — never a raw-data pass.
    */
  def cascadeHist(lowerState: DataFrame, to: Tier): DataFrame = {
    val keys = stateKeyNames(lowerState)
    val mergedHist = lowerState
      .select(stateKeys(lowerState) :+
        date_trunc(to.unit, col("bucket_ts")).as("bucket_ts") :+
        explode(col("hist")).as("h"): _*)
      .select(keys.map(col) ++ Seq(col("bucket_ts"),
        col("h.hb").as("hb"), col("h.cnt").as("cnt")): _*)
      .groupBy(keys.map(col) ++ Seq(col("bucket_ts"), col("hb")): _*)
      .agg(sum("cnt").as("cnt"))
      .groupBy(keys.map(col) :+ col("bucket_ts"): _*)
      .agg(sort_array(collect_list(struct(col("hb"), col("cnt"))))
        .as("hist"))
    cascade(lowerState.drop("hist"), to)
      .join(mergedHist, keys :+ "bucket_ts", "left")
  }

  /** Quantile upper bounds off the tier-state histogram: for each state
    * row, each requested p answers the upper bound `2^(hb+1)−1` of the
    * first histogram cell whose cumulative count reaches ⌈p·n⌉ — the
    * [[Summary.logHistQuantiles]] read applied to CARRIED state instead of
    * raw data (integer-exact cross-engine, bounded relative error). The
    * explode is ≤65 rows per state row; the window partitions per state
    * row. Output: (conv_id, bucket_ts, n_obs, p<P>_ub…).
    */
  def histQuantiles(state: DataFrame, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), "bad quantiles")
    val keys = stateKeyNames(state)
    val ex = state
      .select(stateKeys(state) ++ Seq(col("bucket_ts"), col("n"),
        explode(col("hist")).as("h")): _*)
      .select(keys.map(col) ++ Seq(col("bucket_ts"), col("n"),
        col("h.hb").as("hb"), col("h.cnt").as("cnt")): _*)
    val w = Window.partitionBy(keys.map(col) :+ col("bucket_ts"): _*)
      .orderBy("hb")
    val cum = ex
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("ub", when(col("hb") < 0, lit(0L))
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), hb + 1) - 1")))
    val aggs = ps.map { p =>
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("ub")))
        .as(s"p${(p * 100).round}_ub")
    }
    cum.groupBy(keys.map(col) ++ Seq(col("bucket_ts"),
        col("n").as("n_obs")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Two-phase SALTED tier state for hot-key skew (north rule; the
    * reference has no skew handling — a big tile is just a slow worker,
    * SURVEY.md §4): phase 1 groups by (conv, bucket, salt) where salt
    * spreads one conversation's rows over `saltWidth` reducers; phase 2 is
    * the [[cascade]] merge of the salted partials per (conv, bucket) —
    * truncating an already-truncated bucket is the identity. Results are
    * identical to [[tierState]] (algebraic merge; oracle-checked), but no
    * single reducer ever sees more than ~1/saltWidth of a hot conversation.
    * Salt is deterministic (hash of the timestamp), not random — resume
    * and retries stay reproducible.
    */
  def tierStateSalted(series: DataFrame, tier: Tier, saltWidth: Int,
      tsCol: String = "bucket_ts"): DataFrame =
    cascade(aggregate(
      series.withColumn("__salt", pmod(hash(col(tsCol)), lit(saltWidth))),
      Seq(col("conv_id"), date_trunc(tier.unit, col(tsCol)).as("bucket_ts"),
        col("__salt")),
      momentAggs("value")), tier)

  /** Real-time continuous aggregate (TimescaleDB real-time view shape; our
    * addition per the north rule — the reference recomputes from raw every
    * time, sits_reduce.R): serve a tier's algebraic state as the SEALED
    * materialized buckets strictly before the watermark's bucket UNION a
    * recompute of only the raw TAIL at/after it. The tail filter is a plain
    * timestamp predicate, so at 10^12-turn scale it pushes down to the raw
    * scan and the query reads hours of raw instead of the full history,
    * while the sealed side reads the ratio-smaller tier store. A sealed
    * bucket overlapping the watermark is dropped and recomputed from raw
    * (the unsealed-edge rule). Output is bucket-identical to [[tierState]]
    * over all raw data — integer-valued sums merge exactly (oracle-checked).
    */
  def realtimeState(rawSeries: DataFrame, sealedState: DataFrame, tier: Tier,
      watermark: java.sql.Timestamp, tsCol: String = "bucket_ts"): DataFrame = {
    val wmBucket = date_trunc(tier.unit, lit(watermark))
    val sealedSide = sealedState
      .filter(col("bucket_ts") < wmBucket)
      .select((Seq("conv_id", "bucket_ts") ++ momentCols).map(col): _*)
    // Completeness guard: do NOT trust the caller's watermark to be covered
    // by the sealed store. If the store is stale (sealed through an earlier
    // bucket than the watermark implies), the buckets between its actual
    // seal and the watermark would otherwise vanish — neither side covers
    // them. Read the store's ACTUAL max sealed bucket (a one-row aggregate
    // off the ratio-smaller tier store, not raw) and start the raw
    // recompute right after it. In the current-store case this reduces to
    // `ts >= wmBucket` exactly as before — `least` of two foldable
    // literals, so the tail stays a plain pushable range predicate.
    val maxSealedRow = sealedSide.agg(max("bucket_ts")).head()
    val tailPred =
      if (maxSealedRow.isNullAt(0)) lit(true) // empty store: all-raw recompute
      else {
        val ms = maxSealedRow.getTimestamp(0) // < wmBucket by the filter above
        if (tier.millis > 0)
          col(tsCol) >= least(
            lit(new java.sql.Timestamp(ms.getTime + tier.millis)), wmBucket)
        else // calendar tier (variable width): bucket-compare form
          date_trunc(tier.unit, col(tsCol)) > lit(ms)
      }
    val tail = tierState(rawSeries.filter(tailPred), tier, tsCol)
    sealedSide.unionByName(tail)
  }

  /** The state columns [[momentAggs]] and [[momentMerge]] produce. */
  private val momentCols = Seq("n", "sum_v", "sum2_v", "min_v", "max_v")

  /** Present algebraic state as user-facing stats: mean, stddev (sample, via
    * moments: sqrt((Σv² − (Σv)²/n)/(n−1))), amplitude. Rounded at the output
    * boundary. Keeps the state's [[stateKeys]] and, on global state,
    * `n_convs`.
    */
  def presentState(state: DataFrame): DataFrame = {
    val (n, s, s2) = (col("n"), col("sum_v"), col("sum2_v"))
    state.select(stateKeys(state) ++ Seq(col("bucket_ts"), n) ++
      (if (state.columns.contains("n_convs")) Seq(col("n_convs")) else Nil) ++
      Seq(
        r4(s).as("sum_v"),
        r4(s / n).as("mean_v"),
        col("min_v"), col("max_v"),
        when(n > 1, r4(sqrt(greatest(lit(0.0), (s2 - s * s / n) / (n - 1)))))
          .otherwise(lit(null).cast("double")).as("std_v"),
        r4(col("max_v") - col("min_v")).as("amp_v")): _*)
  }

  /** t_fslope per (conv, tier bucket): max |first difference| of the series
    * ordered by (ts, turn_idx) *within the bucket*
    * (reduce_fns.cpp:68-70 applied per rollup window).
    */
  def fslope(series: DataFrame, tier: Tier, tsCol: String, orderCols: Seq[String]): DataFrame = {
    val b = date_trunc(tier.unit, col(tsCol)).as("bucket_ts")
    val w = Window.partitionBy(col("conv_id"), date_trunc(tier.unit, col(tsCol)))
      .orderBy(orderCols.map(col): _*)
    series
      .withColumn("d", abs(col("value") - lag("value", 1).over(w)))
      .groupBy(col("conv_id"), b)
      .agg(max("d").as("fslope_v"), count(col("value")).as("n"))
      .filter(col("fslope_v").isNotNull) // buckets with a single point have no diff
  }

  /** Exact-match high-moment reductions of `sits_reduce`
    * (/root/reference/src/reduce_fns.cpp:37-76), reproducing the code —
    * including its quirks — not the textbook formulas:
    *
    *  - t_skewness (`:37-49`): `adj = sqrt(n*(n-1))/n - 2` exactly as coded
    *    (the R precedence quirk: NOT sqrt(n(n-1))/(n-2));
    *    skew = (Σ(x-μ)³/n) / (Σ(x-μ)²/n)^1.5 * adj.
    *  - t_kurtosis (`:52-60`): Pearson `n·Σ(x-μ)⁴ / (Σ(x-μ)²)²` — no excess
    *    adjustment (Spark's `kurtosis` subtracts 3; we don't).
    *  - t_mse (`:73-76`): mean over frequencies of |FFT(x)|²; by Parseval's
    *    theorem with arma's unnormalized DFT this is exactly Σx² — no FFT
    *    needed, a plain partially-aggregable sum.
    *
    * Two-pass shape (mean first, centered sums second) mirrors arma's
    * computation and keeps the doubles well-conditioned; both groupBys hash
    * on conv_id so Catalyst reuses the exchange. Constant series (s2=0)
    * yield null skew/kurt (the reference would produce NaN/Inf).
    */
  def reduceHighMoments(series: DataFrame): DataFrame = {
    val mu = series.groupBy("conv_id").agg(avg("value").as("mu"))
    val d = col("value") - col("mu")
    val st = series.join(mu, "conv_id")
      .groupBy(col("conv_id"))
      .agg(
        count(col("value")).as("n"),
        sum(d * d).as("s2"),
        sum(d * d * d).as("s3"),
        sum(d * d * d * d).as("s4"),
        sum(col("value") * col("value")).as("mse"))
    val n = col("n").cast("double")
    val adj = sqrt(n * (n - lit(1))) / n - lit(2) // as coded, reduce_fns.cpp:43
    st.select(
      col("conv_id"), col("n"),
      when(col("s2") > 0,
        r4((col("s3") / n) / pow(col("s2") / n, lit(1.5)) * adj))
        .otherwise(lit(null).cast("double")).as("t_skewness"),
      when(col("s2") > 0, r4(n * col("s4") / (col("s2") * col("s2"))))
        .otherwise(lit(null).cast("double")).as("t_kurtosis"),
      r4(col("mse")).as("t_mse"))
  }

  /** Whole-series reduction (≙ sits_reduce on samples): one row per conv,
    * stamped with the series' min bucket as output date
    * (/root/reference/R/api_reduce.R:150,179: out date = min(timeline)).
    */
  def reduceSeries(series: DataFrame, tsCol: String = "bucket_ts"): DataFrame =
    series
      .groupBy(col("conv_id"))
      .agg(
        min(col(tsCol)).as("start_ts"),
        count(col("value")).as("n"),
        r4(avg("value")).as("t_mean"),
        min("value").as("t_min"),
        max("value").as("t_max"),
        when(count(col("value")) > 1, r4(stddev_samp(col("value"))))
          .otherwise(lit(null).cast("double")).as("t_std"),
        percentile(col("value"), lit(0.5)).as("t_median"),
        percentile(col("value"), lit(0.25)).as("t_fqr"),
        percentile(col("value"), lit(0.75)).as("t_tqr"),
        r4(max("value") - min("value")).as("t_amplitude"))
      .withColumn("t_iqr", col("t_tqr") - col("t_fqr"))

  /** OHLC candlestick state per (conv, tier bucket) — the TimescaleDB
    * `candlestick_agg` verb over a turn metric. State = (n, o, c, low,
    * high) where o/c carry the full (ts, turn_idx, value) struct at the
    * MIN/MAX (ts, turn_idx) key: struct min/max are plain partial-
    * aggregable aggregates (lexicographic ordering; turn_idx breaks ts
    * ties deterministically, and since (ts, turn_idx) is unique per conv
    * the value field never decides), so the shuffle carries one state row
    * per group — no first/last window pass over raw turns — and
    * [[ohlcCascade]] merges states up a tier without touching finer data.
    * Input: (conv_id, ts, turn_idx, value).
    */
  def ohlcState(metrics: DataFrame, tier: Tier, valueCol: String = "value")
      : DataFrame =
    metrics
      .groupBy(col("conv_id"), date_trunc(tier.unit, col("ts")).as("bucket_ts"))
      .agg(ohlcAggs(valueCol).head, ohlcAggs(valueCol).tail: _*)

  /** The candlestick aggregate expressions, shared verbatim with
    * [[graft.streaming.StreamingRollup.ohlcStream]] — struct min/max state
    * is order-insensitive, so stream and batch agree exactly.
    */
  private[graft] def ohlcAggs(valueCol: String): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    min(struct(col("ts"), col("turn_idx"), col(valueCol).as("v"))).as("o"),
    max(struct(col("ts"), col("turn_idx"), col(valueCol).as("v"))).as("c"),
    min(valueCol).as("low"),
    max(valueCol).as("high"))

  /** Merge OHLC states up a tier (1h→1d→1mo): open = min struct, close =
    * max struct, extremes = min/max — the same algebraic cascade shape as
    * [[cascade]]; a coarse candlestick never reads raw turns.
    */
  def ohlcCascade(state: DataFrame, to: Tier): DataFrame =
    state
      .groupBy(col("conv_id"), date_trunc(to.unit, col("bucket_ts")).as("bucket_ts"))
      .agg(
        sum("n").as("n"),
        min("o").as("o"),
        max("c").as("c"),
        min("low").as("low"),
        max("high").as("high"))

  /** Present an OHLC state relation as the user-facing candlestick row. */
  def ohlcPresent(state: DataFrame): DataFrame =
    state.select(col("conv_id"), col("bucket_ts"), col("n"),
      col("o").getField("v").as("open"), col("high"), col("low"),
      col("c").getField("v").as("close"))

  /** CORPUS-WIDE tier rollup — the fleet dashboard query ("all traffic per
    * hour"), the one aggregation where per-conv partitioning does NOT
    * protect against hot keys: at 10^12 turns a single bucket key (one
    * hour of global traffic) holds billions of rows, so a naive
    * groupBy(bucket) funnels each hour through one reducer. Two phases:
    * phase 1 groups by (bucket, salt) where salt partitions CONVERSATIONS
    * (hash(conv_id) mod saltWidth) — deterministic, so retries/resume
    * reproduce, and conv-disjoint, so the per-salt DISTINCT conversation
    * count is exact and merges by plain sum; phase 2 merges ≤saltWidth
    * partials per bucket. Both phases are partially aggregable; the
    * shuffle carries (buckets × saltWidth) rows, never raw turns. Output:
    * (bucket_ts, n, n_convs, sum_v, sum2_v, min_v, max_v). [[cascade]]
    * merges it up a tier and [[presentState]] reads it.
    */
  def tierStateGlobal(series: DataFrame, tier: Tier, saltWidth: Int = 32,
      tsCol: String = "bucket_ts", valueCol: String = "value"): DataFrame = {
    require(saltWidth > 0, "saltWidth > 0")
    val salted = aggregate(
      series.withColumn("__salt", pmod(hash(col("conv_id")), lit(saltWidth))),
      Seq(date_trunc(tier.unit, col(tsCol)).as("bucket_ts"), col("__salt")),
      count_distinct(col("conv_id")).as("n_convs") +: momentAggs(valueCol))
    aggregate(salted, Seq(col("bucket_ts")),
      momentMerge.head +: sum("n_convs").as("n_convs") +: momentMerge.tail)
  }

  /** GLOBAL quantile-bearing tier state in ONE raw pass and with built-in
    * hot-bucket spreading: phase 1 groups by (bucket, log2 cell) — the
    * histogram dimension IS the salt (≤65-way spread of a hot hour, with
    * map-side combine) — and the per-cell moments then merge exactly to
    * bucket moments while the cells re-pack into the `hist` column. The
    * result cascades through [[cascadeHist]] (conv-less state: the key
    * logic recognizes global relations) and answers [[histQuantiles]]
    * reads at ANY retained tier — the corpus-wide p50/p95/p99 dashboard
    * that survives raw expiry. Output: (bucket_ts, n, sum_v, sum2_v,
    * min_v, max_v, hist).
    */
  def tierStateGlobalHist(series: DataFrame, tier: Tier,
      tsCol: String = "bucket_ts", valueCol: String = "value"): DataFrame = {
    val cells = aggregate(series,
      Seq(date_trunc(tier.unit, col(tsCol)).as("bucket_ts"),
        Summary.log2Bucket(col(valueCol)).as("hb")),
      momentAggs(valueCol))
    aggregate(cells, Seq(col("bucket_ts")), momentMerge :+
      sort_array(collect_list(struct(col("hb"), col("n").as("cnt")))).as("hist"))
  }
}
