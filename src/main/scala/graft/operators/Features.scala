package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GridSeries.ms
import Rounding.r4

/** Training-data feature engineering + calendar/multi-granularity analytics
  * over the transcripts relation — the supervised-learning prep mirror of
  * the reference's predictor pipeline (`/root/reference/R/api_predictors.R:
  * 14-67` builds the lagged wide matrix feeding every trainer; these
  * operators build the *long* per-turn feature forms a sequence model or
  * feature store consumes instead).
  *
  * Scale contract shared by every operator here: at most ONE
  * conv-partitioned window pass or ONE two-level aggregation per operator;
  * global statistics travel as ≤64-row broadcast relations (log2-histogram
  * CDF, exact quantile thresholds), never as a global sort or a
  * whole-corpus window.
  */
object Features {

  /** Per-turn lag features: previous two values, trailing-3 mean
    * (current row EXCLUDED — no target leakage), and inter-turn gap.
    * The classic sequence-model feature block (mirrors the reference's
    * lagged predictor matrix, `api_predictors.R:14-67`, in long form).
    * ONE conv-partitioned window pass; integer lags stay integer so the
    * only float column is the 4-dp rolling mean.
    */
  def lagFeatures(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    val len = length(col("text")).cast("long")
    transcripts
      .withColumn("len", len)
      .withColumn("lag1", lag("len", 1).over(w))
      .withColumn("lag2", lag("len", 2).over(w))
      .withColumn("roll3_mean",
        r4(avg("len").over(w.rowsBetween(-3, -1))))
      .withColumn("gap_ms", ms(col("ts")) - lag(ms(col("ts")), 1).over(w))
      .select("conv_id", "turn_idx", "len", "lag1", "lag2", "roll3_mean",
        "gap_ms")
  }

  /** Rolling discrete quantiles (p50/p90) over the trailing `k`-turn window
    * of an integer metric. Contract: the quantile is the element at 1-based
    * position ceil(q·n) of the SORTED window — identical indexing on both
    * engines, so the output is integer-exact (no interpolation, no float).
    * The window list is bounded by k (constant memory per row); values are
    * non-null by construction (text is a non-null concat), which matters
    * because collect_list drops nulls (the ts_hampel lesson).
    */
  def rollingQuantile(transcripts: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"rollingQuantile: k must be >= 1, got $k")
    val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      .rowsBetween(-(k - 1), 0)
    def at(q: Double) = element_at(col("win"),
      ceil(lit(q) * size(col("win"))).cast("int"))
    transcripts
      .withColumn("win", array_sort(collect_list(length(col("text"))
        .cast("long")).over(w)))
      .select(col("conv_id"), col("turn_idx"),
        size(col("win")).cast("long").as("n_win"),
        at(0.5).as("p50"), at(0.9).as("p90"))
  }

  /** Multi-granularity rollup in ONE shuffle via the Expand operator:
    * (day, role), (day), () aggregates computed together — the Spark-native
    * form of maintaining several continuous-aggregate granularities from a
    * single pass (vs one groupBy per granularity = one scan each). NULL
    * grouping slots are rewritten to 'ALL' so the output is
    * representation-stable cross-engine, with grouping_id disambiguating a
    * genuine NULL value from a subtotal row.
    */
  def rollupSets(transcripts: DataFrame): DataFrame = {
    val day = date_trunc("day", col("ts")).cast("date").cast("string")
    transcripts
      .withColumn("day_s", day)
      .rollup(col("day_s"), col("role"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_turns"),
        sum(length(col("text")).cast("long")).as("sum_len"))
      .select(col("gid"),
        coalesce(col("day_s"), lit("ALL")).as("day_s"),
        coalesce(col("role"), lit("ALL")).as("role"),
        col("n_turns"), col("sum_len"))
  }

  /** Percentile rank of every conversation's length WITHOUT a global rank
    * window: per-conv counts → ≤64-cell log2 histogram → cumulative CDF →
    * broadcast-joined back by cell. `pct_ub` is the exact fraction of
    * conversations whose length falls in the same-or-lower power-of-two
    * cell (a guaranteed upper bound on the true percentile, ≤1-cell
    * coarse). The naive `cume_dist() OVER (ORDER BY n)` puts the whole
    * corpus through one task at 10^9 conversations; this shape never
    * materializes a global ordering.
    */
  def convPercentile(transcripts: DataFrame): DataFrame = {
    val convs = transcripts.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"))
    val hist = convs.groupBy(Summary.log2Bucket(col("n_turns")).as("hb"))
      .agg(count(lit(1)).as("cnt"))
    // ≤64 rows: the un-partitioned window is bounded, same allowance as
    // the k-row sketch windows (a SinglePartitionAllowed plan contract)
    val cdf = hist
      .withColumn("cum", sum("cnt").over(Window.orderBy("hb")))
      .withColumn("total", sum("cnt").over(Window.partitionBy(lit(1))))
    convs
      .join(broadcast(cdf), Summary.log2Bucket(col("n_turns")) === col("hb"))
      .select(col("conv_id"), col("n_turns"),
        r4(col("cum").cast("double") / col("total")).as("pct_ub"))
  }

  /** Frequency movers between two corpus halves — the drift question
    * "which words became more/less common?" answered at heavy-hitter cost.
    * Contract (censored-at-threshold, deterministic on both engines): each
    * half reports its exact counts for words above 1/k of that half's mass
    * (via [[Summary.heavyHitters]], two-pass Misra-Gries — the full-vocab
    * groupBy never happens); a word missing from a half's heavy list counts
    * as 0 there. Integer deltas → hash-exact, no rounding contract at all.
    */
  def heavyChange(halfA: DataFrame, halfB: DataFrame, itemCol: String,
      k: Int, topN: Int): DataFrame = {
    val a = Summary.heavyHitters(halfA, itemCol, k)
      .withColumnRenamed("cnt", "cnt_a")
    val b = Summary.heavyHitters(halfB, itemCol, k)
      .withColumnRenamed("cnt", "cnt_b")
    a.join(b, Seq("item"), "full_outer")
      .select(col("item"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .withColumn("delta", col("cnt_b") - col("cnt_a"))
      .orderBy(abs(col("delta")).desc, col("item"))
      .limit(topN)
  }

  /** Winsorized per-conversation means: clip the metric at exact global
    * [pLo, pHi] quantiles ([[Predictors.exactQuantiles]] — partition-
    * parallel rank fetch, bit-identical to DuckDB quantile_cont), then one
    * per-conv aggregate. The thresholds are two driver doubles broadcast
    * into the clip expression — outlier capping with NO extra shuffle over
    * the plain rollup. Output means are of non-negative values (no −0.0
    * hazard).
    */
  def winsorize(transcripts: DataFrame, pLo: Double, pHi: Double): DataFrame = {
    val withLen = transcripts
      .withColumn("len", length(col("text")).cast("long"))
    val Seq(lo, hi) = Predictors.exactQuantiles(withLen, "len", Seq(pLo, pHi))
    // exact integer partial sums per conv, then ONE float expression in a
    // fixed operand order — clipped values are fractional (interpolated
    // thresholds), so a plain avg(clipped) would be summation-order-
    // dependent across engines; this form is hash-stable by construction
    withLen
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        sum("len").as("sum_len"),
        sum(when(col("len") < lo, 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("len") > hi, 1L).otherwise(0L)).as("n_hi"),
        sum(when(col("len") >= lo && col("len") <= hi, col("len"))
          .otherwise(0L)).as("sum_in"))
      .select(col("conv_id"), col("n_turns"),
        r4(col("sum_len").cast("double") / col("n_turns")).as("mean_raw"),
        r4((col("sum_in").cast("double") + col("n_lo") * lit(lo)
          + col("n_hi") * lit(hi)) / col("n_turns")).as("mean_wins"),
        (col("n_lo") + col("n_hi")).as("n_clipped"))
  }

  /** Calendar activity profile by (day-of-week, hour-of-day): turn count,
    * distinct conversations, mean length. Day-of-week is computed by pure
    * epoch arithmetic ((epochDay + 4) mod 7, 0 = Sunday; day 0 =
    * 1970-01-01 = Thursday) so both engines share one convention with no
    * timezone/locale function in the contract. 7×24-bounded output;
    * count(distinct) partial-aggregates on (cell, conv) first.
    */
  def dowHourProfile(transcripts: DataFrame): DataFrame = {
    val epochMs = ms(col("ts"))
    transcripts
      .withColumn("dow",
        pmod(floor(epochMs / lit(86400000L)) + lit(4L), lit(7L)).cast("int"))
      .withColumn("hod",
        floor(pmod(epochMs, lit(86400000L)) / lit(3600000L)).cast("int"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n_turns"),
        count_distinct(col("conv_id")).as("n_convs"),
        r4(avg(length(col("text")))).as("mean_len"))
  }

  /** Week-over-week calendar anomaly screen: z-score of the LATEST
    * Monday-aligned week's per-(dow, hour) turn counts against the
    * mean/sd profile of all PRIOR weeks (present-cell profile: weeks
    * where a cell had no traffic contribute no row — documented
    * contract). Week index is pure epoch arithmetic
    * ((epochDay + 3) div 7; day 0 = Thursday, so +3 aligns to Monday).
    * The raw corpus collapses to a |weeks|·168-bounded cell relation in
    * one aggregate; everything after (profile agg, max-week broadcast,
    * z-scores) runs on that bounded relation — the retention horizon
    * caps |weeks|, so this never re-sorts raw data at any corpus size.
    * Cells need ≥ minWeeks prior observations and positive 4-dp sd.
    * Output: (dow, hod, n_weeks, cnt_last, mu, sd, z, is_anom).
    */
  def calendarAnomaly(transcripts: DataFrame, sigmas: Double,
      minWeeks: Int): DataFrame = {
    val epochDay = floor(ms(col("ts")) / lit(86400000L))
    val cells = transcripts
      .withColumn("week", floor((epochDay + lit(3L)) / lit(7.0)).cast("long"))
      .withColumn("dow", pmod(epochDay + lit(4L), lit(7L)).cast("int"))
      .withColumn("hod",
        floor(pmod(ms(col("ts")), lit(86400000L)) / lit(3600000L))
          .cast("int"))
      .groupBy("week", "dow", "hod")
      .agg(count(lit(1)).as("cnt"))
    val wmax = cells.agg(max("week").as("wmax"))
    val prof = cells.join(broadcast(wmax), col("week") < col("wmax"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n_weeks"),
        r4(avg("cnt")).as("mu"),
        r4(sqrt(avg(col("cnt") * col("cnt")) -
          avg("cnt") * avg("cnt"))).as("sd"))
      .filter(col("n_weeks") >= minWeeks && col("sd") > 0)
    cells.join(broadcast(wmax), col("week") === col("wmax"))
      .join(prof, Seq("dow", "hod"))
      .select(col("dow"), col("hod"), col("n_weeks"),
        col("cnt").as("cnt_last"), col("mu"), col("sd"),
        r4((col("cnt") - col("mu")) / col("sd")).as("z"))
      .withColumn("is_anom",
        (abs(col("z")) > lit(sigmas)).cast("int"))
  }
}
