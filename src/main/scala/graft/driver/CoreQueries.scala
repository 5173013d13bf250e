package graft.driver

import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{ChunkStore, Contract, Downsample, Features, GapFill, Intervals, Layout, Merge, PeriodTiers, Regularize, Rollup, Select, SeriesRollup, Summary, TierDispatch}
import graft.sources.Transcripts
import Fixtures._
import OracleSql._

/** Core tiers: the sources, the regularize → gap-fill → rollup chain and its
  * tier cascade, the chunk store, selection, merges and the tier/render
  * dispatch.
  */
private[driver] object CoreQueries {

  val all: Seq[DriverQuery] = Seq(
    // §2.6 classical agg sanity (lineitem pricing summary)
    DriverQuery("q1_agg", ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity") + lit(1e-9), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) + lit(1e-9), 4).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity) + 1e-9, 4) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // §1 data model: the transcripts derivation itself — per-turn text
    // equality under stable (conv_id, turn_idx) order (BASELINE invariant)
    DriverQuery("ts_transcripts", ((s, dir) =>
      transcripts(s, dir).orderBy("conv_id", "turn_idx")),
      (cte + "\nSELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts ORDER BY conv_id, turn_idx")),
    // §2.3 regularize: bucket + quality-first + densify (day-1 window)
    DriverQuery("ts_regular_1m", ((s, dir) =>
      Regularize.regularize(transcripts(s, dir), Tier.M1)
        .filter(col("bucket_ts") < lit("2024-01-02").cast("timestamp"))
        .orderBy("conv_id", "bucket_ts")),
      (cte + regularCte +
        "\nSELECT conv_id, bucket_ts, value FROM regular WHERE bucket_ts < timestamp '2024-01-02' ORDER BY conv_id, bucket_ts"),
      plan = Some(ShuffleBudget(3,
        "turn-order window + first-valid agg + per-conv grid extent (the " +
        "observation join is broadcast)"))),
    // §2.4 gap-fill (impute_linear semantics; filled on full grid, day-1 out)
    DriverQuery("ts_gapfill_1m", ((s, dir) =>
      day1(s, dir).orderBy("conv_id", "bucket_ts")),
      (cte + gapfilledCte +
        "\nSELECT conv_id, bucket_ts, value FROM gapfilled WHERE bucket_ts < timestamp '2024-01-02' ORDER BY conv_id, bucket_ts"),
      plan = Some(ShuffleBudget(3, "turn-order window + first-valid agg + per-conv fill kernel"))),
    // the m4-1h DOWNSAMPLE TIER's content relation, driver-oracle-checked:
    // M4 per (conv, hour) over the gap-filled 1m grid — exactly what
    // TierPipeline.downsampleTier decodes out of the committed chunk store
    // and commits (the manifest/resume machinery is ScalaTest-proven;
    // this row anchors the tier's VALUES to the DuckDB oracle). Fill uses
    // the full series, emission is day-1-bounded — the ts_gapfill_1m
    // convention (the unbounded variant shuffles the whole dense grid)
    DriverQuery("ts_m4_grid", ((s, dir) =>
      Downsample.m4(
        day1(s, dir).filter(col("value").isNotNull)
          .select(col("conv_id"), col("bucket_ts").as("ts"), col("value")),
        date_trunc("hour", col("ts")))
        .select(col("conv_id"), col("bucket_ts"),
          round(col("v_min") + lit(1e-9), 4).as("v_min"),
          round(col("v_max") + lit(1e-9), 4).as("v_max"),
          round(col("v_first") + lit(1e-9), 4).as("v_first"),
          round(col("v_last") + lit(1e-9), 4).as("v_last"),
          col("t_first"), col("t_last"), col("n"))
        .orderBy("conv_id", "bucket_ts")),
      (cte + gapfilledCte +
        """, gfn AS (
          |  SELECT conv_id, bucket_ts, value FROM gapfilled
          |  WHERE value IS NOT NULL
          |    AND bucket_ts < timestamp '2024-01-02'
          |), rk AS (
          |  SELECT conv_id, date_trunc('hour', bucket_ts) AS hb, value,
          |    bucket_ts,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('hour', bucket_ts)
          |                       ORDER BY bucket_ts) AS ra,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('hour', bucket_ts)
          |                       ORDER BY bucket_ts DESC) AS rd
          |  FROM gfn
          |)
          |SELECT conv_id, hb AS bucket_ts,
          |  round(min(value) + 1e-9, 4) AS v_min,
          |  round(max(value) + 1e-9, 4) AS v_max,
          |  round(min(CASE WHEN ra = 1 THEN value END) + 1e-9, 4) AS v_first,
          |  round(min(CASE WHEN rd = 1 THEN value END) + 1e-9, 4) AS v_last,
          |  min(bucket_ts) AS t_first, max(bucket_ts) AS t_last,
          |  count(*) AS n
          |FROM rk GROUP BY 1, 2 ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.6 t_* rollup of the gap-filled 1m grid into 1h buckets — fused
    // per-series kernel (fill+stats in one group pass; the dense grid never
    // shuffles), same semantics as the relational Rollup.rollup path
    DriverQuery("ts_rollup_1h", ((s, dir) =>
      SeriesRollup.rollupDense(s,
        Regularize.firstValid(transcripts(s, dir), Tier.M1), Tier.M1, Tier.H1)
        .orderBy("conv_id", "bucket_ts")),
      (cte + gapfilledCte +
        """
          |SELECT conv_id, date_trunc('hour', bucket_ts) AS bucket_ts,
          |  count(value) AS n,
          |  round(sum(value) + 1e-9, 4) AS sum_v,
          |  round(avg(value) + 1e-9, 4) AS mean_v,
          |  min(value) AS min_v, max(value) AS max_v,
          |  CASE WHEN count(value) > 1 THEN round(stddev_samp(value) + 1e-9, 4) END AS std_v,
          |  quantile_cont(value, 0.5) AS med_v,
          |  quantile_cont(value, 0.25) AS fqr_v,
          |  quantile_cont(value, 0.75) AS tqr_v,
          |  round(max(value) - min(value) + 1e-9, 4) AS amp_v,
          |  quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr_v
          |FROM gapfilled GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      plan = Some(ShuffleBudget(3, "conv window + state agg + tier cascade path"))),
    // §2.6/north rule: 1d tier CASCADED from 1h algebraic state (oracle
    // computes directly from 1m — equality proves the cascade exact)
    DriverQuery("ts_rollup_1d", ((s, dir) => {
      val st1h = SeriesRollup.stateDense(s,
        Regularize.firstValid(transcripts(s, dir), Tier.M1), Tier.M1, Tier.H1)
      Rollup.presentState(Rollup.cascade(st1h, Tier.D1))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + gapfilledCte +
        """
          |SELECT conv_id, date_trunc('day', bucket_ts) AS bucket_ts,
          |  count(value) AS n,
          |  round(sum(value) + 1e-9, 4) AS sum_v,
          |  round(sum(value) / count(value) + 1e-9, 4) AS mean_v,
          |  min(value) AS min_v, max(value) AS max_v,
          |  CASE WHEN count(value) > 1 THEN
          |    round(sqrt(greatest(0.0, (sum(value * value) - sum(value) * sum(value) / count(value)) / (count(value) - 1))) + 1e-9, 4)
          |  END AS std_v,
          |  round(max(value) - min(value) + 1e-9, 4) AS amp_v
          |FROM gapfilled GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      plan = Some(ShuffleBudget(4, "the ts_rollup_1h path + one 1h→1d cascade agg"))),
    // §7.4 retention hole closed: quantiles AFTER raw/1m expiry — the
    // ≤64-cell log2 histogram rides in 1h tier state, cascades 1h→1d by
    // exact integer merges, and answers p50/p90/p99 upper bounds at 1d.
    // Oracle recomputes the same integer bit-length buckets directly from
    // the 1m grid — equality proves the carried/cascaded histogram exact.
    DriverQuery("ts_rollup_quantiles", ((s, dir) => {
      val st1h = SeriesRollup.stateDenseHist(s,
        Regularize.firstValid(transcripts(s, dir), Tier.M1), Tier.M1, Tier.H1)
      Rollup.histQuantiles(Rollup.cascadeHist(st1h, Tier.D1),
          Seq(0.5, 0.9, 0.99))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + gapfilledCte +
        """, hbv AS (
          |  SELECT conv_id, date_trunc('day', bucket_ts) AS bucket_ts,
          |    CASE WHEN cast(trunc(value) AS BIGINT) <= 0 THEN -1
          |         ELSE length(printf('%b', cast(trunc(value) AS BIGINT))) - 1
          |    END AS hb
          |  FROM gapfilled WHERE value IS NOT NULL
          |), hc AS (
          |  SELECT conv_id, bucket_ts, hb, count(*) AS cnt
          |  FROM hbv GROUP BY 1, 2, 3
          |), cum AS (
          |  SELECT conv_id, bucket_ts, hb,
          |    CAST(sum(cnt) OVER (PARTITION BY conv_id, bucket_ts
          |                        ORDER BY hb) AS BIGINT) AS cum,
          |    CAST(sum(cnt) OVER (PARTITION BY conv_id, bucket_ts)
          |         AS BIGINT) AS n,
          |    CASE WHEN hb < 0 THEN 0
          |         ELSE (CAST(1 AS BIGINT) << (hb + 1)) - 1 END AS ub
          |  FROM hc
          |)
          |SELECT conv_id, bucket_ts, n AS n_obs,
          |  min(CASE WHEN cum >= ceil(0.5 * n) THEN ub END) AS p50_ub,
          |  min(CASE WHEN cum >= ceil(0.9 * n) THEN ub END) AS p90_ub,
          |  min(CASE WHEN cum >= ceil(0.99 * n) THEN ub END) AS p99_ub
          |FROM cum GROUP BY 1, 2, 3 ORDER BY conv_id, bucket_ts""".stripMargin)),
    // north rule: Gorilla+delta-of-delta chunk encode → decode round trip —
    // bit-exact, so the gap-fill oracle doubles as the codec oracle
    DriverQuery("ts_chunk_roundtrip", ((s, dir) => {
      // encode the day-1 slice: commutes with the round-trip identity and
      // keeps the bench measuring codec throughput, not a discard scan
      val chunks = ChunkStore.encode(s, day1(s, dir), Tier.M1)
      ChunkStore.decode(s, chunks).orderBy("conv_id", "bucket_ts")
    }),
      (cte + gapfilledCte +
        "\nSELECT conv_id, bucket_ts, value FROM gapfilled WHERE bucket_ts < timestamp '2024-01-02' ORDER BY conv_id, bucket_ts")),
    // chunk-exclusion range read: encode the full grid, decode only
    // [06:00, 12:00) of day 1 — chunks outside never reach the codec
    DriverQuery("ts_chunk_range", ((s, dir) => {
      val chunks = ChunkStore.encodeFilled(
        s, Regularize.firstValid(transcripts(s, dir), Tier.M1), Tier.M1)
      ChunkStore.decodeRange(s, chunks, Tier.M1,
        new java.sql.Timestamp(1704088800000L),   // 2024-01-01T06:00Z
        new java.sql.Timestamp(1704110400000L))   // 2024-01-01T12:00Z
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + gapfilledCte +
        """
          |SELECT conv_id, bucket_ts, value FROM gapfilled
          |WHERE bucket_ts >= timestamp '2024-01-01 06:00:00'
          |  AND bucket_ts < timestamp '2024-01-01 12:00:00'
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.6 whole-series reduction (sits_reduce on samples; date = min ts)
    DriverQuery("ts_reduce_series", ((s, dir) =>
      Rollup.reduceSeries(
        metrics(s, dir).select(col("conv_id"), col("ts"), col("text_len").as("value")),
        tsCol = "ts").orderBy("conv_id")),
      (cte + metricsCte +
        """
          |SELECT conv_id, min(ts) AS start_ts, count(text_len) AS n,
          |  round(avg(text_len) + 1e-9, 4) AS t_mean,
          |  min(text_len) AS t_min, max(text_len) AS t_max,
          |  CASE WHEN count(text_len) > 1 THEN round(stddev_samp(text_len) + 1e-9, 4) END AS t_std,
          |  quantile_cont(text_len, 0.5) AS t_median,
          |  quantile_cont(text_len, 0.25) AS t_fqr,
          |  quantile_cont(text_len, 0.75) AS t_tqr,
          |  round(max(text_len) - min(text_len) + 1e-9, 4) AS t_amplitude,
          |  quantile_cont(text_len, 0.75) - quantile_cont(text_len, 0.25) AS t_iqr
          |FROM metrics GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // §2.6 t_fslope per day over raw turn metric
    DriverQuery("ts_fslope_1d", ((s, dir) =>
      Rollup.fslope(
        metrics(s, dir).select(col("conv_id"), col("ts"), col("turn_idx"),
          col("text_len").as("value")),
        Tier.D1, tsCol = "ts", orderCols = Seq("ts", "turn_idx"))
        .orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """, diffs AS (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts, text_len,
          |    abs(text_len - lag(text_len) OVER (PARTITION BY conv_id, date_trunc('day', ts) ORDER BY ts, turn_idx)) AS d
          |  FROM metrics)
          |SELECT conv_id, bucket_ts, max(d) AS fslope_v, count(text_len) AS n
          |FROM diffs GROUP BY 1, 2 HAVING max(d) IS NOT NULL ORDER BY 1, 2""".stripMargin)),
    // §2.6 exact-match high moments: t_skewness/t_kurtosis as coded in
    // reduce_fns.cpp:37-60 (incl. the adj-factor precedence quirk), t_mse
    // via Parseval (= Σx², reduce_fns.cpp:73-76)
    DriverQuery("ts_reduce_moments", ((s, dir) =>
      Rollup.reduceHighMoments(
        metrics(s, dir).select(col("conv_id"), col("text_len").as("value")))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, mu AS (
          |  SELECT conv_id, avg(text_len) AS mu FROM metrics GROUP BY conv_id
          |), cm AS (
          |  SELECT m.conv_id, count(m.text_len) AS n,
          |    sum((m.text_len - mu.mu) * (m.text_len - mu.mu)) AS s2,
          |    sum((m.text_len - mu.mu) * (m.text_len - mu.mu) * (m.text_len - mu.mu)) AS s3,
          |    sum((m.text_len - mu.mu) * (m.text_len - mu.mu) * (m.text_len - mu.mu) * (m.text_len - mu.mu)) AS s4,
          |    sum(m.text_len * m.text_len) AS mse
          |  FROM metrics m JOIN mu ON m.conv_id = mu.conv_id GROUP BY m.conv_id
          |)
          |SELECT conv_id, n,
          |  CASE WHEN s2 > 0 THEN round((s3 / n) / pow(s2 / n, 1.5) * (sqrt(n * (n - 1)) / n - 2) + 1e-9, 4) + 0.0 END AS t_skewness,
          |  CASE WHEN s2 > 0 THEN round(n * s4 / (s2 * s2) + 1e-9, 4) END AS t_kurtosis,
          |  round(mse + 1e-9, 4) AS t_mse
          |FROM cm ORDER BY conv_id""".stripMargin)),
    // §2.2 selection: metric projection + interval + conv-range predicate,
    // all pushed to the scan (sits_select / .select_raster_cube)
    DriverQuery("ts_select", ((s, dir) =>
      Select.selectSeries(transcripts(s, dir), Seq("text_len", "is_tool"),
        from = lit("2024-01-03").cast("timestamp"),
        to = lit("2024-01-10").cast("timestamp"),
        convPred = substring(col("conv_id"), 2, 6).cast("long") % 5 < 3)
        .orderBy("conv_id", "turn_idx")),
      (cte + metricsCte +
        """
          |SELECT conv_id, turn_idx, ts, text_len, is_tool FROM metrics
          |WHERE ts >= timestamp '2024-01-03' AND ts < timestamp '2024-01-10'
          |  AND cast(substring(conv_id, 2, 6) AS bigint) % 5 < 3
          |ORDER BY conv_id, turn_idx""".stripMargin)),
    // §2.10 positional zip merge of two metric series on the shared grid
    DriverQuery("ts_merge_zip", ((s, dir) =>
      Merge.zip(
        Regularize.firstValid(transcripts(s, dir), Tier.H1, "text_len"),
        Regularize.firstValid(transcripts(s, dir), Tier.H1, "is_tool"), "tool")
        .orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """, fa AS (
          |  SELECT conv_id, bucket_ts, value FROM (
          |    SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, text_len AS value,
          |           row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          |                              ORDER BY quality_rank, ts, turn_idx) AS rn
          |    FROM metrics) WHERE rn = 1
          |), fb AS (
          |  SELECT conv_id, bucket_ts, value FROM (
          |    SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, is_tool AS value,
          |           row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          |                              ORDER BY quality_rank, ts, turn_idx) AS rn
          |    FROM metrics) WHERE rn = 1
          |)
          |SELECT fa.conv_id, fa.bucket_ts, fa.value, fb.value AS value_tool
          |FROM fa JOIN fb ON fa.conv_id = fb.conv_id AND fa.bucket_ts = fb.bucket_ts
          |ORDER BY fa.conv_id, fa.bucket_ts""".stripMargin)),
    // §2.10 cube union + dedup by (band, date)
    DriverQuery("ts_merge_union", ((s, dir) => {
      val t = transcripts(s, dir)
      def assets(role: String) = t.filter(col("role") === role)
        .select(col("conv_id"), lit("m").as("band"),
          date_trunc("day", col("ts")).as("bucket_ts")).distinct()
      Merge.unionDedup(assets("user"), assets("assistant"),
        Seq("conv_id", "band", "bucket_ts"))
        .orderBy("conv_id", "band", "bucket_ts")
    }),
      (cte +
        """
          |SELECT conv_id, 'm' AS band, date_trunc('day', ts) AS bucket_ts
          |FROM transcripts WHERE role = 'user'
          |UNION
          |SELECT conv_id, 'm' AS band, date_trunc('day', ts) AS bucket_ts
          |FROM transcripts WHERE role = 'assistant'
          |ORDER BY conv_id, band, bucket_ts""".stripMargin)),
    // §2.10 temporal zipper alignment (as-of/interval join, min per interval)
    DriverQuery("ts_merge_zipper", ((s, dir) => {
      val t = transcripts(s, dir)
      val t1 = t.select(col("conv_id"), date_trunc("hour", col("ts")).as("ts")).distinct()
      Merge.zipperAlign(t1, t.select(col("conv_id"), col("ts")))
        .orderBy("conv_id", "ts_lo")
    }),
      (cte +
        """, t1 AS (
          |  SELECT DISTINCT conv_id, date_trunc('hour', ts) AS ts FROM transcripts
          |), iv AS (
          |  SELECT conv_id, ts AS ts_lo,
          |         lead(ts) OVER (PARTITION BY conv_id ORDER BY ts) AS ts_hi
          |  FROM t1
          |)
          |SELECT i.conv_id, i.ts_lo, min(t.ts) AS matched_ts
          |FROM iv i JOIN transcripts t
          |  ON i.conv_id = t.conv_id AND t.ts >= i.ts_lo AND t.ts < i.ts_hi
          |WHERE i.ts_hi IS NOT NULL
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // §2.6/north rule: calendar-month tier cascaded 1m→1h→1d→1mo (three
    // cascade hops; oracle computes directly from the 1m grid)
    DriverQuery("ts_rollup_1mo", ((s, dir) => {
      val st1h = SeriesRollup.stateDense(s,
        Regularize.firstValid(transcripts(s, dir), Tier.M1), Tier.M1, Tier.H1)
      val stMo = Rollup.cascade(Rollup.cascade(st1h, Tier.D1), Tier.Mo1)
      Rollup.presentState(stMo).orderBy("conv_id", "bucket_ts")
    }),
      (cte + gapfilledCte +
        """
          |SELECT conv_id, date_trunc('month', bucket_ts) AS bucket_ts,
          |  count(value) AS n,
          |  round(sum(value) + 1e-9, 4) AS sum_v,
          |  round(sum(value) / count(value) + 1e-9, 4) AS mean_v,
          |  min(value) AS min_v, max(value) AS max_v,
          |  CASE WHEN count(value) > 1 THEN
          |    round(sqrt(greatest(0.0, (sum(value * value) - sum(value) * sum(value) / count(value)) / (count(value) - 1))) + 1e-9, 4)
          |  END AS std_v,
          |  round(max(value) - min(value) + 1e-9, 4) AS amp_v
          |FROM gapfilled GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      plan = Some(ShuffleBudget(5, "one extra cascade level per coarser tier"))),
    // §2.10 sits_add_base_cube: broadcast-join static per-conv covariates
    DriverQuery("ts_base_join", ((s, dir) => {
      val t = transcripts(s, dir)
      val static = t.groupBy("conv_id").agg(
        min_by(col("role"), col("turn_idx")).as("first_role"),
        count(lit(1)).as("n_turns"))
      val dm = Regularize.withMetrics(t)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
        .agg(round(avg("text_len") + lit(1e-9), 4).as("value"))
      dm.join(broadcast(static), "conv_id")
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
        """, static AS (
          |  SELECT conv_id, arg_min(role, turn_idx) AS first_role, count(*) AS n_turns
          |  FROM transcripts GROUP BY conv_id
          |), dm AS (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
          |         round(avg(text_len) + 1e-9, 4) AS value
          |  FROM metrics GROUP BY 1, 2
          |)
          |SELECT d.conv_id, d.bucket_ts, d.value, s.first_role, s.n_turns
          |FROM dm d JOIN static s ON d.conv_id = s.conv_id
          |ORDER BY d.conv_id, d.bucket_ts""".stripMargin)),
    // north rule: explicit two-phase SALTED aggregation — identical results
    // to the unsalted path (the oracle aggregates directly), but a hot
    // conversation's rows spread over 8 reducers in phase 1
    DriverQuery("ts_rollup_salted", ((s, dir) =>
      Rollup.presentState(Rollup.tierStateSalted(
        metrics(s, dir).select(col("conv_id"), col("ts"), col("text_len").as("value")),
        Tier.H1, saltWidth = 8, tsCol = "ts"))
        .orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """
          |SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |  count(text_len) AS n,
          |  round(sum(text_len) + 1e-9, 4) AS sum_v,
          |  round(sum(text_len) / count(text_len) + 1e-9, 4) AS mean_v,
          |  min(text_len) AS min_v, max(text_len) AS max_v,
          |  CASE WHEN count(text_len) > 1 THEN
          |    round(sqrt(greatest(0.0, (sum(text_len * text_len) - sum(text_len) * sum(text_len) / count(text_len)) / (count(text_len) - 1))) + 1e-9, 4)
          |  END AS std_v,
          |  round(max(text_len) - min(text_len) + 1e-9, 4) AS amp_v
          |FROM metrics GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      plan = Some(ShuffleBudget(3, "salted phase-1 + merge + present"))),
    // §2.1 sits_get_data: nested per-conv series assembly (summary columns
    // verified; the nested array itself is exercised by the aggregate fold)
    DriverQuery("ts_get_data", ((s, dir) =>
      Transcripts.assembleSeries(metrics(s, dir), "text_len")
        .drop("series").orderBy("conv_id")),
      (cte + metricsCte +
        """, srt AS (
          |  SELECT conv_id, ts, text_len AS v,
          |    row_number() OVER (PARTITION BY conv_id ORDER BY ts, text_len) AS rn,
          |    count(*) OVER (PARTITION BY conv_id) AS nn
          |  FROM metrics
          |)
          |SELECT conv_id, max(nn) AS n_points, min(ts) AS start_ts, max(ts) AS end_ts,
          |  max(CASE WHEN rn = 1 THEN v END) AS first_v,
          |  max(CASE WHEN rn = nn THEN v END) AS last_v,
          |  round(sum(v) + 1e-9, 4) AS sum_v
          |FROM srt GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // §2.3 arbitrary ISO period grid (P16D, the reference's MODIS default):
    // full timeline rule (max-min..min-max extent, snapped origin, buckets
    // [t_i, t_i+P), cut() drop outside [t_1, t_last+P)) — bucket assignment
    // is pure arithmetic, no timeline join
    DriverQuery("ts_rollup_p16d", ((s, dir) =>
      PeriodTiers.rollupPeriod(
        metrics(s, dir).select(col("conv_id"), col("ts"), col("text_len").as("value")),
        "P16D").orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """, ext AS (
          |  SELECT max(mn) AS s0, min(mx) AS e0 FROM
          |    (SELECT conv_id, min(cast(ts AS date)) AS mn, max(cast(ts AS date)) AS mx
          |     FROM metrics GROUP BY conv_id)
          |), tlp AS (
          |  SELECT s0, s0 + cast(floor(date_diff('day', s0, e0) / 16.0) * 16 AS int) + 16 AS hi FROM ext
          |)
          |SELECT conv_id,
          |  cast(s0 + cast(floor(date_diff('day', s0, cast(ts AS date)) / 16.0) * 16 AS int) AS timestamp) AS bucket_ts,
          |  count(text_len) AS n,
          |  round(sum(text_len) + 1e-9, 4) AS sum_v,
          |  round(avg(text_len) + 1e-9, 4) AS mean_v,
          |  min(text_len) AS min_v, max(text_len) AS max_v
          |FROM metrics, tlp
          |WHERE cast(ts AS date) >= s0 AND cast(ts AS date) < hi
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // §2.3 FULL period regularize: quality-first per P16D bucket + cube-wide
    // shared-timeline densification — every conv gets exactly |timeline|
    // slots, empty buckets null (api_regularize.R:90-109 postcondition)
    DriverQuery("ts_regular_p16d", ((s, dir) =>
      PeriodTiers.regularizeP(
        Regularize.withMetrics(transcripts(s, dir))
          .select(col("conv_id"), col("ts"), col("turn_idx"),
            col("quality_rank"), col("text_len").as("value")),
        "P16D").orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """, ext AS (
          |  SELECT max(mn) AS s0, min(mx) AS e0 FROM
          |    (SELECT conv_id, min(cast(ts AS date)) AS mn, max(cast(ts AS date)) AS mx
          |     FROM metrics GROUP BY conv_id)
          |), tlg AS (
          |  SELECT s0, unnest(generate_series(0, cast(floor(date_diff('day', s0, e0) / 16.0) AS int))) AS g
          |  FROM ext
          |), tl AS (
          |  SELECT cast(s0 + cast(16 * g AS int) AS timestamp) AS bucket_ts FROM tlg
          |), fv AS (
          |  SELECT conv_id, bucket_ts, value FROM (
          |    SELECT m.conv_id,
          |      cast(x.s0 + cast(floor(date_diff('day', x.s0, cast(m.ts AS date)) / 16.0) * 16 AS int) AS timestamp) AS bucket_ts,
          |      m.text_len AS value,
          |      row_number() OVER (
          |        PARTITION BY m.conv_id, floor(date_diff('day', x.s0, cast(m.ts AS date)) / 16.0)
          |        ORDER BY m.quality_rank, m.ts, m.turn_idx) AS rn
          |    FROM metrics m, ext x
          |    WHERE cast(m.ts AS date) >= x.s0
          |      AND cast(m.ts AS date) < x.s0 + cast(floor(date_diff('day', x.s0, x.e0) / 16.0) * 16 + 16 AS int)
          |  ) WHERE rn = 1
          |), convs AS (SELECT DISTINCT conv_id FROM metrics)
          |SELECT c.conv_id, t.bucket_ts, f.value
          |FROM convs c CROSS JOIN tl t
          |LEFT JOIN fv f ON f.conv_id = c.conv_id AND f.bucket_ts = t.bucket_ts
          |ORDER BY c.conv_id, t.bucket_ts""".stripMargin)),
    // §2.3 multi-band regularize: both metrics quality-first aggregated in
    // ONE pass over the raw turns (one shuffle for all bands, as the
    // reference's per-image read serves every band)
    DriverQuery("ts_regular_multi", ((s, dir) =>
      Regularize.firstValidAll(transcripts(s, dir), Tier.H1,
        Seq("text_len", "is_tool")).orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """
          |SELECT conv_id, bucket_ts, text_len, is_tool FROM (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, text_len, is_tool,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          |                       ORDER BY quality_rank, ts, turn_idx) AS rn
          |  FROM metrics) WHERE rn = 1
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.4 C_mask_na / C_fill_na as dedicated verbs over the pre-gap-fill
    // regular grid (nulls = empty buckets)
    DriverQuery("ts_mask_fill", ((s, dir) => {
      val g = Regularize.regularize(transcripts(s, dir), Tier.M1)
        .filter(col("bucket_ts") < lit("2024-01-02").cast("timestamp"))
      GapFill.fillNa(GapFill.maskNa(g, Seq("value")), Seq("value"), -9999.0)
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + regularCte +
        """
          |SELECT conv_id, bucket_ts,
          |  CASE WHEN value IS NULL OR isnan(value) THEN -9999.0 ELSE value END AS value,
          |  cast(value IS NULL OR isnan(value) AS int) AS na_mask
          |FROM regular WHERE bucket_ts < timestamp '2024-01-02'
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.2 .ts_select_interval on the NESTED series column: array filter in
    // place (no explode), summaries recomputed from the filtered array
    DriverQuery("ts_select_nested", ((s, dir) =>
      Select.tsSelectNested(
        Transcripts.assembleSeries(metrics(s, dir), "text_len"),
        "2024-01-03", "2024-01-10").orderBy("conv_id")),
      (cte + metricsCte +
        """, fr AS (
          |  SELECT conv_id, ts, text_len AS v FROM metrics
          |  WHERE ts >= timestamp '2024-01-03' AND ts < timestamp '2024-01-10'
          |), srt AS (
          |  SELECT conv_id, ts, v,
          |    row_number() OVER (PARTITION BY conv_id ORDER BY ts, v) AS rn,
          |    count(*) OVER (PARTITION BY conv_id) AS nn
          |  FROM fr
          |)
          |SELECT conv_id, max(nn) AS n_points, min(ts) AS start_ts, max(ts) AS end_ts,
          |  max(CASE WHEN rn = 1 THEN v END) AS first_v,
          |  max(CASE WHEN rn = nn THEN v END) AS last_v,
          |  round(sum(v) + 1e-9, 4) AS sum_v
          |FROM srt GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // §1.1 .tibble_prune: keep only conversations at the median point count
    DriverQuery("ts_prune", ((s, dir) => {
      // Odd-cardinality cohort: with an even number of conversations the
      // type-7 median of counts is fractional and prune is vacuously empty
      // (faithful to R, kept as a ScalaTest case) — drop the max conv_id so
      // the median is an actual count and the query exercises the keep path.
      val m = metrics(s, dir)
      val par = m.groupBy("conv_id").agg(count(lit(1)).as("n_pts"))
        .agg(count(lit(1)).as("nc"), max("conv_id").as("mx")).head
      val base = if (par.getLong(0) % 2 == 0) m.filter(col("conv_id") =!= lit(par.get(1))) else m
      Select.pruneMedianLength(base)
        .select("conv_id", "turn_idx", "ts", "text_len")
        .orderBy("conv_id", "turn_idx")
    }),
      (cte + metricsCte +
        """, cnt0 AS (
          |  SELECT conv_id, count(*) AS n_pts FROM metrics GROUP BY 1
          |), par AS (
          |  SELECT count(*) AS nc, max(conv_id) AS mx FROM cnt0
          |), cnt AS (
          |  SELECT c.conv_id, c.n_pts FROM cnt0 c CROSS JOIN par p
          |  WHERE p.nc % 2 = 1 OR c.conv_id <> p.mx
          |), med AS (
          |  SELECT quantile_cont(n_pts, 0.5) AS m FROM cnt
          |)
          |SELECT m.conv_id, m.turn_idx, m.ts, m.text_len
          |FROM metrics m JOIN cnt c ON m.conv_id = c.conv_id CROSS JOIN med
          |WHERE cast(c.n_pts AS double) = med.m
          |ORDER BY m.conv_id, m.turn_idx""".stripMargin)),
    // §2.10 .merge_strategy_intersects: interval-overlap matching of a daily
    // and a 3-daily grid; side 2 re-dated onto side 1's matched instants
    DriverQuery("ts_merge_intersects", ((s, dir) => {
      val m = metrics(s, dir)
      val t1 = m.groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
        .agg(round(avg("text_len") + lit(1e-9), 4).as("value"))
      val t2 = m.groupBy(col("conv_id"),
          PeriodTiers.bucket(col("ts"), java.time.LocalDate.of(2024, 1, 1),
            PeriodTiers.Period(3, PeriodTiers.Day)).as("bucket_ts"))
        .agg(round(avg("text_len") + lit(1e-9), 4).as("value"))
      Merge.intersectsAlign(t1, t2)
        .orderBy("conv_id", "bucket_ts", "src", "value")
    }),
      (cte + metricsCte +
        """, t1g AS (
          |  SELECT conv_id, date_trunc('day', ts) AS b,
          |         round(avg(text_len) + 1e-9, 4) AS value
          |  FROM metrics GROUP BY 1, 2
          |), t2g AS (
          |  SELECT conv_id,
          |    cast(DATE '2024-01-01' + cast(floor(date_diff('day', DATE '2024-01-01', cast(ts AS date)) / 3.0) * 3 AS int) AS timestamp) AS b,
          |    round(avg(text_len) + 1e-9, 4) AS value
          |  FROM metrics GROUP BY 1, 2
          |), tl1 AS (SELECT DISTINCT b FROM t1g
          |), tl2 AS (SELECT DISTINCT b FROM t2g
          |), mp AS (
          |  SELECT a.b AS t2_ts, min(c.b) AS new_ts
          |  FROM tl2 a JOIN tl1 c
          |    ON epoch_ms(c.b) + 86400000 - 1 >= epoch_ms(a.b)
          |   AND epoch_ms(c.b) <= epoch_ms(a.b) + 259200000 - 1
          |  GROUP BY 1
          |)
          |SELECT conv_id, bucket_ts, value, src FROM (
          |  SELECT conv_id, b AS bucket_ts, value, 't1' AS src FROM t1g
          |  WHERE b IN (SELECT new_ts FROM mp)
          |  UNION ALL
          |  SELECT t.conv_id, m2.new_ts AS bucket_ts, t.value, 't2' AS src
          |  FROM t2g t JOIN mp m2 ON t.b = m2.t2_ts)
          |ORDER BY conv_id, bucket_ts, src, value""".stripMargin)),
    // §2.2 stratified train/validation split (.tibble_samples_split)
    DriverQuery("ts_split", ((s, dir) =>
      Select.trainValSplit(transcripts(s, dir), trainPct = 80)
        .orderBy("conv_id", "turn_idx")),
      (cte +
        """
          |SELECT conv_id, turn_idx, role, text, tool, ts,
          |  (cast(substring(conv_id, 2, 6) AS bigint) * 48271 + turn_idx) % 100 < 80 AS train
          |FROM transcripts ORDER BY conv_id, turn_idx""".stripMargin)),
    // §2.10 .data_get_ts first-wins dedup: one row per (conv, day) by the
    // stable preference order (quality, ts, turn_idx)
    DriverQuery("ts_dedup_first", ((s, dir) =>
      Select.dedupFirst(
        Regularize.withMetrics(transcripts(s, dir))
          .withColumn("bucket_ts", date_trunc("day", col("ts"))),
        keys = Seq("conv_id", "bucket_ts"),
        order = Seq(col("quality_rank"), col("ts"), col("turn_idx")))
        .select("conv_id", "bucket_ts", "turn_idx", "text_len")
        .orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """
          |SELECT conv_id, bucket_ts, turn_idx, text_len FROM (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts, turn_idx, text_len,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('day', ts)
          |                       ORDER BY quality_rank, ts, turn_idx) AS rn
          |  FROM metrics) WHERE rn = 1
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // corpus-wide DAILY rollup via the global continuous-aggregate merge:
    // hourly global states cascade to daily (moments only — distinct-conv
    // counts are not algebraic and are deliberately dropped); the oracle
    // computes the day directly from raw, proving the merge exact
    DriverQuery("ts_rollup_global_1d", ((s, dir) =>
      Rollup.presentState(Rollup.cascade(
        Rollup.tierStateGlobal(
          metrics(s, dir).withColumnRenamed("text_len", "value"), Tier.H1,
          saltWidth = 32, tsCol = "ts"),
        Tier.D1)).orderBy("bucket_ts")),
      (cte + metricsCte +
        """, st AS (
          |  SELECT date_trunc('day', ts) AS bucket_ts,
          |    count(text_len) AS n,
          |    sum(text_len) AS sum_v, sum(text_len * text_len) AS sum2_v,
          |    min(text_len) AS min_v, max(text_len) AS max_v
          |  FROM metrics GROUP BY 1
          |)
          |""".stripMargin + presentStateSql("bucket_ts"))),
    // corpus-wide DAILY quantile UBs read off the CASCADED global
    // histogram state (raw → 1h hist state → 1d merge → quantile read):
    // the dashboard quantile that survives raw expiry; the oracle
    // computes the daily census direct from raw, proving every hop exact
    DriverQuery("ts_global_quantiles", ((s, dir) => {
      // cascadeHist consumes its input twice (moment merge + hist merge);
      // in the pipeline that input is a COMMITTED parquet tier, but this
      // inline composition would re-derive it from raw — localCheckpoint
      // the (tiny, |hours|-row) state so raw is scanned exactly once
      val hourly = Rollup.tierStateGlobalHist(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        Tier.H1, tsCol = "ts").localCheckpoint()
      Rollup.histQuantiles(Rollup.cascadeHist(hourly, Tier.D1),
        Seq(0.5, 0.9, 0.99)).orderBy("bucket_ts")
    }),
      (cte + metricsCte +
        """, gg AS (
          |  SELECT date_trunc('day', ts) AS bucket_ts,
          |    cast(text_len AS bigint) AS v
          |  FROM metrics
          |), h AS (
          |  SELECT bucket_ts,
          |    CASE WHEN v <= 0 THEN -1
          |         ELSE length(printf('%b', v)) - 1 END AS hb,
          |    count(*) AS cnt
          |  FROM gg GROUP BY 1, 2
          |), c AS (
          |  SELECT bucket_ts, hb, cnt,
          |    CAST(sum(cnt) OVER (PARTITION BY bucket_ts ORDER BY hb)
          |         AS BIGINT) AS cum,
          |    CAST(sum(cnt) OVER (PARTITION BY bucket_ts) AS BIGINT) AS n,
          |    CASE WHEN hb < 0 THEN 0
          |         ELSE (CAST(1 AS BIGINT) << (hb + 1)) - 1 END AS ub
          |  FROM h
          |)
          |SELECT bucket_ts, n AS n_obs,
          |  min(CASE WHEN cum >= ceil(0.5 * n) THEN ub END) AS p50_ub,
          |  min(CASE WHEN cum >= ceil(0.9 * n) THEN ub END) AS p90_ub,
          |  min(CASE WHEN cum >= ceil(0.99 * n) THEN ub END) AS p99_ub
          |FROM c GROUP BY 1, 2 ORDER BY bucket_ts""".stripMargin)),
    // §2.1 summary() verb: per-metric n/mean/min/Q1/median/Q3/max
    // (exact parallel quantiles — no single-reducer percentile)
    // §2.1 sits_timeline: ordered distinct instants + per-instant coverage
    DriverQuery("ts_timeline", ((s, dir) =>
      Summary.timeline(
        Regularize.regularize(transcripts(s, dir), Tier.M1)
          .filter(col("bucket_ts") < lit("2024-01-02").cast("timestamp")))),
      (cte + regularCte +
        """
          |SELECT bucket_ts, count(*) AS n_series FROM regular
          |WHERE bucket_ts < timestamp '2024-01-02'
          |GROUP BY 1 ORDER BY 1""".stripMargin)),
    DriverQuery("ts_summary", ((s, dir) =>
      Summary.summarize(
        Regularize.withMetrics(transcripts(s, dir)).select("text_len", "is_tool"),
        Seq("text_len", "is_tool")).orderBy("metric")),
      (cte +metricsCte +
        """
          |SELECT 'is_tool' AS metric, count(is_tool) AS n,
          |  round(avg(is_tool) + 1e-9, 4) AS mean_v,
          |  cast(min(is_tool) AS double) AS min_v,
          |  round(quantile_cont(is_tool, 0.25) + 1e-9, 4) AS q1,
          |  round(quantile_cont(is_tool, 0.5) + 1e-9, 4) AS median,
          |  round(quantile_cont(is_tool, 0.75) + 1e-9, 4) AS q3,
          |  cast(max(is_tool) AS double) AS max_v
          |FROM metrics
          |UNION ALL
          |SELECT 'text_len' AS metric, count(text_len) AS n,
          |  round(avg(text_len) + 1e-9, 4) AS mean_v,
          |  cast(min(text_len) AS double) AS min_v,
          |  round(quantile_cont(text_len, 0.25) + 1e-9, 4) AS q1,
          |  round(quantile_cont(text_len, 0.5) + 1e-9, 4) AS median,
          |  round(quantile_cont(text_len, 0.75) + 1e-9, 4) AS q3,
          |  cast(max(text_len) AS double) AS max_v
          |FROM metrics
          |ORDER BY metric""".stripMargin)),
    // M4 downsampling (Jugel et al., VLDB'14): per-hour min/max/first/last
    // envelope — the error-free width-bounded rendering reduction; one
    // partially-aggregated groupBy, same scale shape as the 1m rollup
    DriverQuery("ts_m4", ((s, dir) =>
      Downsample.m4(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        date_trunc("hour", col("ts")),
        ord = struct(col("ts"), col("turn_idx")))
        .orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """, rk AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, text_len, ts,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          |                       ORDER BY ts, turn_idx) AS ra,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          |                       ORDER BY ts DESC, turn_idx DESC) AS rd
          |  FROM metrics
          |)
          |SELECT conv_id, bucket_ts,
          |  min(text_len) AS v_min, max(text_len) AS v_max,
          |  min(CASE WHEN ra = 1 THEN text_len END) AS v_first,
          |  min(CASE WHEN rd = 1 THEN text_len END) AS v_last,
          |  min(ts) AS t_first, max(ts) AS t_last, count(*) AS n
          |FROM rk GROUP BY 1, 2 ORDER BY conv_id, bucket_ts""".stripMargin)),
    // pixel-budget render dispatch: coarsest granularity (day/hour/minute)
    // filling a 96-px chart over [2024-01-01, 2024-01-08), then the global
    // M4 envelope at that granularity (7 days -> 168 hours >= 96 -> hour);
    // the oracle re-derives the choice as a CASE chain and picks the
    // matching branch, so the dispatch arithmetic is cross-checked too
    DriverQuery("ts_render_dispatch", ((s, dir) =>
      Downsample.renderDispatch(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        renderFromMs, renderToMs, widthPx = 96)
        .orderBy("bucket_ts")),
      renderDispatchSql),
    // real-time continuous aggregate: sealed 1h tier buckets before the
    // watermark + a raw-tail recompute at/after it, union — the raw scan is
    // pruned to the tail by a pushed-down timestamp predicate; result is
    // bucket-identical to a full recompute (the oracle)
    DriverQuery("ts_realtime_agg", ((s, dir) => {
      val raw = metrics(s, dir).withColumnRenamed("text_len", "value")
      // 2024-01-10T00:00:00Z (epoch-ms construction — TZ-independent)
      val wm = new java.sql.Timestamp(1704844800000L)
      val sealedSt = Rollup.tierState(
        raw.filter(col("ts") < lit(wm)), Tier.H1, tsCol = "ts")
      Rollup.presentState(
        Rollup.realtimeState(raw, sealedSt, Tier.H1, wm, tsCol = "ts"))
        .orderBy("conv_id", "bucket_ts")
    }),
      // full recompute from raw — the real-time router must be
      // bucket-identical to it
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |    count(text_len) AS n, sum(text_len) AS sum_v,
          |    sum(text_len * text_len) AS sum2_v,
          |    min(text_len) AS min_v, max(text_len) AS max_v
          |  FROM metrics GROUP BY 1, 2
          |)
          |""".stripMargin + presentStateSql("conv_id, bucket_ts")),
      plan = Some(ShuffleBudget(4, "sealed state + tail state + union present"))),
    // CORPUS-WIDE hourly rollup — two-phase conv-salted global aggregate:
    // at 10^12 turns one hour of global traffic is billions of rows, so
    // phase 1 splits each bucket across 32 conv-hash salts (exact distinct
    // conv counts merge by sum because salts partition conversations)
    DriverQuery("ts_rollup_global", ((s, dir) =>
      Rollup.presentState(Rollup.tierStateGlobal(
        metrics(s, dir).withColumnRenamed("text_len", "value"), Tier.H1,
        saltWidth = 32, tsCol = "ts")).orderBy("bucket_ts")),
      (cte + metricsCte +
        """, st AS (
          |  SELECT date_trunc('hour', ts) AS bucket_ts,
          |    count(text_len) AS n,
          |    cast(count(DISTINCT conv_id) AS bigint) AS n_convs,
          |    sum(text_len) AS sum_v, sum(text_len * text_len) AS sum2_v,
          |    min(text_len) AS min_v, max(text_len) AS max_v
          |  FROM metrics GROUP BY 1
          |)
          |""".stripMargin + presentStateSql("bucket_ts", nConvs = true)),
      plan = Some(ShuffleBudget(4, "salted phase-1 + distinct expansion + merge"))),
    // hourly OHLC candlestick of turn length (TimescaleDB candlestick_agg):
    // open/close via partial-aggregable struct min/max, no window pass
    DriverQuery("ts_ohlc", ((s, dir) =>
      Rollup.ohlcPresent(Rollup.ohlcState(
        metrics(s, dir).withColumnRenamed("text_len", "value"), Tier.H1))
        .orderBy("conv_id", "bucket_ts")),
      // OHLC candlestick: open/close replayed via bidirectional row_number
      // (the oracle's window stand-in for the engine's struct min/max)
      (cte + metricsCte +
        """, b AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, text_len,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          |                       ORDER BY ts, turn_idx) AS ra,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
          |                       ORDER BY ts DESC, turn_idx DESC) AS rd
          |  FROM metrics
          |)
          |SELECT conv_id, bucket_ts, cast(count(*) AS bigint) AS n,
          |  max(CASE WHEN ra = 1 THEN text_len END) AS open,
          |  max(text_len) AS high, min(text_len) AS low,
          |  max(CASE WHEN rd = 1 THEN text_len END) AS close
          |FROM b GROUP BY 1, 2 ORDER BY conv_id, bucket_ts""".stripMargin)),
    // daily OHLC CASCADED from the hourly state (never reads raw turns);
    // the oracle computes the daily candle directly from raw — driver-
    // verified algebraic-merge equivalence
    DriverQuery("ts_ohlc_1d", ((s, dir) =>
      Rollup.ohlcPresent(Rollup.ohlcCascade(Rollup.ohlcState(
        metrics(s, dir).withColumnRenamed("text_len", "value"), Tier.H1),
        Tier.D1))
        .orderBy("conv_id", "bucket_ts")),
      // daily candle computed DIRECTLY from raw — the engine answers it by
      // cascading hourly states, so a green row proves the algebraic merge
      (cte + metricsCte +
        """, b AS (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts, text_len,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('day', ts)
          |                       ORDER BY ts, turn_idx) AS ra,
          |    row_number() OVER (PARTITION BY conv_id, date_trunc('day', ts)
          |                       ORDER BY ts DESC, turn_idx DESC) AS rd
          |  FROM metrics
          |)
          |SELECT conv_id, bucket_ts, cast(count(*) AS bigint) AS n,
          |  max(CASE WHEN ra = 1 THEN text_len END) AS open,
          |  max(text_len) AS high, min(text_len) AS low,
          |  max(CASE WHEN rd = 1 THEN text_len END) AS close
          |FROM b GROUP BY 1, 2 ORDER BY conv_id, bucket_ts""".stripMargin)),
    // (day, role) + (day) + () granularities in ONE shuffle via the
    // Expand operator (Spark ROLLUP) — never one scan per granularity
    DriverQuery("ts_rollup_sets", ((s, dir) =>
      Features.rollupSets(transcripts(s, dir))
        .orderBy("gid", "day_s", "role")),
      (cte +
        """, g AS (
          |  SELECT cast(cast(date_trunc('day', ts) AS date) AS varchar)
          |           AS day_s,
          |         role, cast(length(text) AS bigint) AS l
          |  FROM transcripts
          |)
          |SELECT cast(grouping_id(day_s, role) AS int) AS gid,
          |  coalesce(day_s, 'ALL') AS day_s, coalesce(role, 'ALL') AS role,
          |  cast(count(*) AS bigint) AS n_turns,
          |  cast(sum(l) AS bigint) AS sum_len
          |FROM g GROUP BY ROLLUP (day_s, role)
          |ORDER BY gid, day_s, role""".stripMargin)),
    // value-predicate pruned chunk read: the per-chunk min/max zone map
    // (parquet-row-group stats for the chunk store) skips chunks whose
    // whole range falls below the threshold without touching payloads;
    // residual per-point filter keeps exactness
    DriverQuery("ts_chunk_value_prune", ((s, dir) => {
      // hourly text-volume sums (integer-valued, naturally spread): convs
      // that never see a multi-turn hour prune entirely at the zone level
      val grid = transcripts(s, dir)
        .groupBy(col("conv_id"),
          date_trunc("hour", col("ts")).as("bucket_ts"))
        .agg(sum(length(col("text")).cast("long")).cast("double")
          .as("value"))
      val chunks = ChunkStore.encode(s, grid, Tier.H1)
      ChunkStore.decodeWhereAtLeast(s, chunks,
        ChunkStore.zoneMap(s, chunks), threshold = 30.0)
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte +
        """, hv AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |    cast(cast(sum(length(text)) AS bigint) AS double) AS value
          |  FROM transcripts GROUP BY 1, 2
          |)
          |SELECT conv_id, bucket_ts, value FROM hv
          |WHERE value >= 30.0
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // point-in-interval join: tool events → the 30-min-gap session each
    // falls inside (co-partitioned equi-join on conv_id, range residual)
    DriverQuery("ts_interval_join", ((s, dir) =>
      Intervals.intervalJoin(transcripts(s, dir), gapMs = 1800000L)
        .orderBy("conv_id", "sess_idx")),
      (cte + sessionsCte +
        """, ev AS (
          |  SELECT conv_id AS e_conv, epoch_ms(ts) AS e_ms,
          |    turn_idx AS e_idx, tool
          |  FROM transcripts WHERE tool IS NOT NULL
          |), ej AS (
          |  SELECT s.conv_id, s.sess_idx, s.n_turns, s.dur_ms,
          |    e.tool, e.e_ms, e.e_idx
          |  FROM sess s LEFT JOIN ev e
          |    ON s.conv_id = e.e_conv
          |   AND e.e_ms BETWEEN s.start_ms AND s.end_ms
          |), fj AS (
          |  SELECT *, first_value(tool) OVER (PARTITION BY conv_id, sess_idx
          |                                    ORDER BY e_ms, e_idx) AS ft
          |  FROM ej
          |)
          |SELECT conv_id, sess_idx, n_turns, dur_ms,
          |  count(tool) AS n_tool_events,
          |  count(DISTINCT tool) AS n_tools,
          |  any_value(ft) AS first_tool
          |FROM fj GROUP BY conv_id, sess_idx, n_turns, dur_ms
          |ORDER BY conv_id, sess_idx""".stripMargin)),
    // Morton z-order layout key over (conv-hash cell, hour cell) — the
    // two-dimensional file-clustering key for the transcript store
    DriverQuery("ts_zorder", ((s, dir) =>
      Layout.transcriptZ(transcripts(s, dir), bits = 16)
        .select(col("conv_id"), col("turn_idx"), col("conv_cell"),
          col("time_cell"), col("z"))
        .orderBy("conv_id", "turn_idx")),
      // Morton interleave replay: u32-md5 conv cell (the weightedPriority
      // u32 recipe) and hour cell, bit-interleaved over generate_series —
      // pure integer bit arithmetic, no rounding contract
      (cte +
        s""", cells AS (
          |  SELECT conv_id, turn_idx,
          |    ${u32Sql("conv_id")} & 65535 AS conv_cell,
          |    CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) & 65535
          |      AS time_cell
          |  FROM transcripts
          |)
          |SELECT conv_id, turn_idx, conv_cell, time_cell,
          |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
          |    (((conv_cell >> i) & 1) << (2 * i + 1)) +
          |    (((time_cell >> i) & 1) << (2 * i)))) AS BIGINT) AS z
          |FROM cells ORDER BY conv_id, turn_idx""".stripMargin)),
    // Iceberg-maintenance bin-packing plan over the per-(day, conv) file
    // ledger: cumulative-capacity bins, window at manifest scale only
    DriverQuery("ts_compaction_plan", ((s, dir) =>
      Layout.compactionPlan(transcripts(s, dir), 512L)
        .orderBy("day", "bin")),
      // bin-packing replay: per-day file ledger, cumulative-capacity bins;
      // cum is HUGEINT -> bin CAST BIGINT (the winnow lesson)
      (cte +
        """, files AS (
          |  SELECT conv_id, date_trunc('day', ts) AS day,
          |    CAST(sum(length(text)) AS BIGINT) AS bytes
          |  FROM transcripts GROUP BY 1, 2
          |), c AS (
          |  SELECT day, conv_id, bytes,
          |    sum(bytes) OVER (PARTITION BY day
          |                     ORDER BY bytes DESC, conv_id
          |                     ROWS BETWEEN UNBOUNDED PRECEDING
          |                       AND CURRENT ROW) AS cum
          |  FROM files
          |)
          |SELECT day, CAST((greatest(cum, 1) - 1) // 512 AS BIGINT) AS bin,
          |  CAST(count(*) AS BIGINT) AS n_files,
          |  CAST(sum(bytes) AS BIGINT) AS bin_bytes
          |FROM c GROUP BY 1, 2 ORDER BY day, bin""".stripMargin)),
    // data-contract validation battery over a deterministically corrupted
    // twin (planted dup keys / ts inversions / null text / bad roles —
    // the docsPlanted pattern, so every check is non-vacuous)
    DriverQuery("ts_contract_checks", ((s, dir) =>
      Contract.contractChecks(corruptedTranscripts(s, dir))
        .orderBy("check_name")),
      // corrupted-twin replay (same u32-keyed plantings) + the five checks
      // from one window pass + one per-conv agg, stacked
      (cte +
        s""", hh AS (
          |  SELECT *, ${u32Sql("conv_id")} AS h FROM transcripts
          |), corr AS (
          |  SELECT conv_id, turn_idx,
          |    CASE WHEN h % 3 = 2 AND turn_idx = 0 THEN 'bot'
          |         ELSE role END AS role,
          |    CASE WHEN h % 3 = 1 AND turn_idx = 1 THEN NULL
          |         ELSE text END AS text,
          |    CASE WHEN h % 3 = 0 AND turn_idx = 2 THEN ts - INTERVAL 2 HOUR
          |         ELSE ts END AS ts
          |  FROM hh
          |  UNION ALL
          |  SELECT conv_id, turn_idx, role, text, ts FROM hh
          |  WHERE h % 4 = 0 AND turn_idx = 3
          |), m AS (
          |  SELECT conv_id, turn_idx,
          |    CASE WHEN ts < lag(ts) OVER (PARTITION BY conv_id
          |                                 ORDER BY turn_idx, ts)
          |         THEN 1 ELSE 0 END AS inv,
          |    CASE WHEN text IS NULL OR length(text) = 0
          |         THEN 1 ELSE 0 END AS nulls,
          |    CASE WHEN role IN ('user', 'assistant', 'tool', 'system')
          |         THEN 0 ELSE 1 END AS badrole
          |  FROM corr
          |), pc AS (
          |  SELECT conv_id, count(*) AS n_rows,
          |    count(DISTINCT turn_idx) AS n_idx,
          |    CAST(max(turn_idx) AS BIGINT) AS max_idx,
          |    sum(inv) AS inv, sum(nulls) AS nulls, sum(badrole) AS badrole
          |  FROM m GROUP BY 1
          |), ck AS (
          |  SELECT 'duplicate_turn_key' AS check_name, n_rows - n_idx AS v FROM pc
          |  UNION ALL SELECT 'event_time_inversion', inv FROM pc
          |  UNION ALL SELECT 'null_or_empty_text', nulls FROM pc
          |  UNION ALL SELECT 'role_out_of_vocab', badrole FROM pc
          |  UNION ALL SELECT 'turn_idx_gap', max_idx + 1 - n_idx FROM pc
          |)
          |SELECT check_name, CAST(sum(v) AS BIGINT) AS n_violations,
          |  CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_convs
          |FROM ck GROUP BY 1 ORDER BY 1""".stripMargin)),
    // tier-dispatch range aggregate: raw edges + 1h edges + 1d core, the
    // total row is the algebraic merge — oracle recomputes every region
    // (and the total) directly from raw, proving dispatch == direct
    DriverQuery("ts_tier_dispatch", ((s, dir) =>
      TierDispatch.rangeAggregate(metrics(s, dir),
        dispatchFromMs, dispatchToMs).orderBy("region")),
      // direct-from-raw replay of every dispatch region AND the total: the
      // hash equality is the dispatch == direct-recompute proof
      (cte + metricsCte +
        s""", pts AS (
          |  SELECT epoch_ms(ts) AS t, CAST(text_len AS BIGINT) AS v
          |  FROM metrics
          |  WHERE epoch_ms(ts) >= $dpFrom AND epoch_ms(ts) < $dpTo
          |), tagged AS (
          |  SELECT CASE
          |    WHEN t < $dpHC0 THEN '1_raw_head'
          |    WHEN t < $dpDC0 THEN '2_hour_head'
          |    WHEN t < $dpDF1 THEN '3_day_core'
          |    WHEN t < $dpHF1 THEN '4_hour_tail'
          |    ELSE '5_raw_tail' END AS region, t, v
          |  FROM pts
          |), reg AS (
          |  SELECT region,
          |    CAST(CASE WHEN region IN ('1_raw_head', '5_raw_tail')
          |           THEN count(*)
          |         WHEN region = '3_day_core'
          |           THEN count(DISTINCT t // 86400000)
          |         ELSE count(DISTINCT t // 3600000) END AS BIGINT)
          |      AS buckets_read,
          |    CAST(count(*) AS BIGINT) AS n_turns,
          |    CAST(sum(v) AS BIGINT) AS sum_v, min(v) AS min_v,
          |    max(v) AS max_v
          |  FROM tagged GROUP BY 1
          |)
          |SELECT * FROM (
          |  SELECT * FROM reg
          |  UNION ALL
          |  SELECT '6_total', CAST(sum(buckets_read) AS BIGINT),
          |    CAST(sum(n_turns) AS BIGINT), CAST(sum(sum_v) AS BIGINT),
          |    min(min_v), max(max_v)
          |  FROM reg
          |) ORDER BY region""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "six scalar region totals: each funnels only partial-agg rows (raw " +
        "edges are ≤2h pruned slivers; tier regions are time-bounded 1h/1d " +
        "states, one partial row per task)"))),
  )
}
