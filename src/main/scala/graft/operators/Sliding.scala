package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Rounding.r4

/** Sliding / hopping-window analytics — the overlapping-window family the
  * tier cascade (tumbling buckets) deliberately does not cover. Three
  * shapes, each with the 100 TB plan spelled out:
  *
  *  - [[slidingAgg]]: hopping-window rollup (Flink HOP / TimescaleDB
  *    time_bucket with origin shifts). Each turn EXPLODES into the
  *    window/hop windows that contain it (a small constant, 4 here) and a
  *    two-phase partial agg does the rest — phase 1 keyed by
  *    (window, conv) so a hot global window is spread across its
  *    conversations exactly like `Rollup.tierStateGlobal`'s salt, phase 2
  *    merges the ≤|convs-in-window| partials. No self-join of bucket
  *    ranges, no global ordered sweep (the same explode-not-sweep design
  *    as `Intervals.concurrency`).
  *  - [[rollingSlope]]: trailing-k OLS slope per turn (PromQL `deriv()`
  *    over a row window). All four window sums are INTEGER (the global
  *    turn index is translation-invariant for the slope, so it never
  *    needs re-basing per window); one float division + 4-dp quantization
  *    at the output boundary only.
  *  - [[hllSliding]]: sliding distinct-conversation estimate per hour from
  *    MERGEABLE HyperLogLog register relations ([[Summary.hllRegisters]]
  *    keyed by hour). The raw data is read ONCE; the slide is a
  *    register-wise trailing `RANGE` max over the ≤|hours|·m register
  *    grid — re-scanning raw turns per window (the naive sliding
  *    `countDistinct`) never happens. This is the textbook reason sketch
  *    states, not finished numbers, are what a tier store should retain.
  *
  * Cross-engine exactness: every aggregate is an integer sum/max; the two
  * float boundaries (slope, HLL estimate) are single fixed-operand-order
  * expressions over exact integers, 4-dp-quantized (engine `r4` mirrored
  * by oracle `round(x + 1e-9, 4)` with the `+ 0.0` −0.0 normalizer where
  * the value can be negative).
  */
object Sliding {

  /** Hopping-window aggregate over the whole corpus: for each window
    * `[k·hop, k·hop + window)` touched by any turn, the turn count, total
    * value mass, and exact distinct active conversations. `windowMs` must
    * be a multiple of `hopMs`; a turn in hop cell k0 belongs to windows
    * `k0-(window/hop-1) .. k0`. Input is the metrics relation
    * (conv_id, ts, `valueCol` integer-valued). Output: (window_start,
    * window_end, n_turns, total_len, n_convs) — all integers, no rounding
    * contract.
    *
    * Exact `n_convs` stays scalable because phase 1 groups by
    * (window, conv): a window with 10⁹ turns collapses to its distinct
    * conversations map-side before the merge, and the distinct count is a
    * plain `count(*)` of phase-1 rows — never a `count(distinct)` over a
    * hot window on one reducer.
    */
  def slidingAgg(metrics: DataFrame, windowMs: Long = 3600000L,
      hopMs: Long = 900000L, valueCol: String = "text_len"): DataFrame = {
    require(windowMs > 0 && hopMs > 0 && windowMs % hopMs == 0,
      "windowMs must be a positive multiple of hopMs")
    val nWin = (windowMs / hopMs).toInt
    // SQL text, not GridSeries.ms: integral `DIV` has no Column operator
    val phase1 = metrics
      .select(col("conv_id"),
        expr(s"unix_millis(cast(ts AS timestamp)) DIV $hopMs").as("k0"),
        col(valueCol).cast("long").as("v"))
      .select(col("conv_id"), col("v"),
        explode(sequence(col("k0") - (nWin - 1), col("k0"))).as("k"))
      .groupBy("k", "conv_id")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    phase1.groupBy("k")
      .agg(sum("n").as("n_turns"), sum("s").as("total_len"),
        count(lit(1)).as("n_convs"))
      .select(timestamp_millis(col("k") * hopMs).as("window_start"),
        timestamp_millis(col("k") * hopMs + windowMs).as("window_end"),
        col("n_turns"), col("total_len"), col("n_convs"))
  }

  /** Trailing-k OLS slope of `valueCol` against the turn index (PromQL
    * `deriv()` on a row basis): one conv-partitioned window pass carrying
    * the four integer sums Σy, Σi, Σiy, Σi², then
    * `slope = (k·Σiy − Σi·Σy) / (k·Σi² − (Σi)²)` — the denominator is the
    * constant k²(k²−1)/12 > 0 for a full window, and using the GLOBAL turn
    * index i is exact because the OLS slope is translation-invariant in x.
    * Only full windows (n = k) emit rows. Integer-overflow bound (the
    * ccf/olsTrend contract): with per-conv turn count n and |value| ≤ M,
    * the largest product is Σi·Σy ≤ (k·n)(k·M); k = 8, M = 10⁵ admits
    * n up to ~10⁹ turns per conversation before 2⁵³ — far beyond the
    * design's per-series bound. Output: (conv_id, idx, value, slope) with
    * slope 4-dp (signed → oracle carries the −0.0 normalizer).
    */
  def rollingSlope(metrics: DataFrame, k: Int = 8,
      valueCol: String = "text_len"): DataFrame = {
    require(k >= 2, "window k >= 2")
    val order = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val w = order.rowsBetween(-(k - 1), 0)
    metrics
      .withColumn("i", row_number().over(order).cast("long"))
      .withColumn("y", col(valueCol).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sy", sum("y").over(w))
      .withColumn("si", sum("i").over(w))
      .withColumn("siy", sum(col("i") * col("y")).over(w))
      .withColumn("sii", sum(col("i") * col("i")).over(w))
      .filter(col("n") === k)
      .select(col("conv_id"), col("i").as("idx"), col("y").as("value"),
        r4((col("siy") * k - col("si") * col("sy")).cast("double") /
          (col("sii") * k - col("si") * col("si")).cast("double"))
          .as("slope"))
  }

  /** Sliding distinct-conversation estimate per hour from hour-keyed HLL
    * register relations (p-bit prefix register, ρ = leading-zero rank of
    * the 32−p remainder — the same hash/register contract as
    * [[Summary.hllRegisters]], Flajolet+ '07). The slide is a
    * register-wise trailing-`windowHours` `RANGE` max over the dense
    * (hour × register) grid (grid = present hours × `explode` of the 2^p
    * register ids — no join, no cartesian), so raw turns are scanned
    * exactly once regardless of how many windows each hour serves.
    *
    * The estimate keeps the integer-exact contract: with B = 32−p+1 the
    * max possible ρ, each register contributes the exact long
    * `2^(B−ρ)` (`2^B` when empty), so `s_scaled = 2^B·Σ2^(−M[j])` is an
    * exact integer sum and the raw HLL estimate `α·m²·2^B / s_scaled` is
    * ONE float division by a shared compile-time literal — hash-exact
    * cross-engine. `v_zero` (empty registers in the window) is emitted so
    * a consumer can apply linear-counting correction; the relation itself
    * stays log()-free. Output: (hour_ts, v_zero, s_scaled, est).
    */
  def hllSliding(transcripts: DataFrame, windowHours: Int = 24,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    require(windowHours >= 1, "windowHours >= 1")
    val remBits = 32 - p
    val m = 1 << p
    val bMax = remBits + 1
    val h = Accuracy.u32Md5(col("conv_id"))
    // SQL text, not GridSeries.ms: integral `DIV` has no Column operator
    val regs = transcripts
      .select(expr("unix_millis(cast(ts AS timestamp)) DIV 3600000").as("hr"),
        shiftright(h, remBits).cast("int").as("register"),
        pmod(h, lit(1L << remBits)).as("rem"))
      .withColumn("rho",
        when(col("rem") === 0, lit(remBits + 1))
          .otherwise(lit(remBits) - length(bin(col("rem"))) + 1)
          .cast("int"))
      .groupBy("hr", "register")
      .agg(max("rho").as("rho"))
    val grid = regs.select("hr").distinct()
      .withColumn("register", explode(sequence(lit(0), lit(m - 1))))
    val slideW = Window.partitionBy("register").orderBy("hr")
      .rangeBetween(-(windowHours - 1).toLong, 0L)
    val alphaM2B = (0.7213 / (1.0 + 1.079 / m)) * m * m * (1L << bMax).toDouble
    grid.join(regs, Seq("hr", "register"), "left")
      .withColumn("rho_w", max("rho").over(slideW))
      .groupBy("hr")
      .agg(sum(when(col("rho_w").isNull, 1L).otherwise(0L)).as("v_zero"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $bMax - coalesce(rho_w, 0))"))
          .as("s_scaled"))
      .select(timestamp_millis(col("hr") * 3600000L).as("hour_ts"),
        col("v_zero"), col("s_scaled"),
        r4(lit(alphaM2B) / col("s_scaled").cast("double")).as("est"))
  }
}
