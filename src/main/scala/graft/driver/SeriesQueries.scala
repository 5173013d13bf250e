package graft.driver

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Apply, ChangeDetect, Contingency, Dedup, Downsample, Evaluation, Features, Forecast, Graph, GridSeries, Intervals, KernelWindows, Regularize, Segment, Select, SeriesMining, SeriesOps, Sliding, Smooth, Summary, Texture}
import Fixtures._
import OracleSql._

/** Series analytics over the transcripts metrics: kernel windows,
  * smoothers, change detection, similarity, forecasting and the
  * per-series statistics.
  */
private[driver] object SeriesQueries {

  val all: Seq[DriverQuery] = Seq(
    // §2.5 w_* kernel window stats with reference-exact mirrored edges
    // (locus_mirror) and smallest-value modal tie-break, k=2
    DriverQuery("ts_kernel_w", ((s, dir) =>
      KernelWindows(day1(s, dir), k = 2).orderBy("conv_id", "bucket_ts")),
      (cte + gapfilledCte + seriesArrCtes +
        """, win AS (
          |  SELECT conv_id, tsv[i] AS bucket_ts,
          |    list_transform(generate_series(-2, 2), j ->
          |      vals[greatest(0, least(n - 1,
          |           CASE WHEN i - 1 + j < 0 THEN -(i - 1 + j) - 1
          |                WHEN i - 1 + j >= n THEN 2 * n - (i - 1 + j) - 1
          |                ELSE i - 1 + j END)) + 1]) AS w
          |  FROM idx
          |), stats AS (
          |  SELECT conv_id, bucket_ts,
          |    list_sum(w) AS s1,
          |    list_sum(list_transform(w, x -> x * x)) AS s2,
          |    list_sort(w)[3] AS w_median,
          |    list_min(w) AS w_min, list_max(w) AS w_max
          |  FROM win
          |), modal_u AS (
          |  SELECT conv_id, bucket_ts, unnest(w) AS val FROM win
          |), modal_c AS (
          |  SELECT conv_id, bucket_ts, val, count(*) AS c
          |  FROM modal_u GROUP BY conv_id, bucket_ts, val
          |), modal AS (
          |  SELECT conv_id, bucket_ts, val AS w_modal FROM (
          |    SELECT conv_id, bucket_ts, val,
          |      row_number() OVER (PARTITION BY conv_id, bucket_ts ORDER BY c DESC, val ASC) AS rn
          |    FROM modal_c) WHERE rn = 1
          |)
          |SELECT s.conv_id, s.bucket_ts,
          |  round(s1 + 1e-9, 4) AS w_sum,
          |  round(s1 / 5 + 1e-9, 4) AS w_mean,
          |  w_median, w_min, w_max,
          |  round(sqrt(greatest(0.0, (s2 - s1 * s1 / 5) / 4)) + 1e-9, 4) AS w_sd,
          |  round((s2 - s1 * s1 / 5) / 4 + 1e-9, 4) + 0.0 AS w_var,
          |  m.w_modal
          |FROM stats s JOIN modal m ON s.conv_id = m.conv_id AND s.bucket_ts = m.bucket_ts
          |ORDER BY s.conv_id, s.bucket_ts""".stripMargin)),
    // §2.4 Savitzky-Golay smoother with reference edge-matrix semantics
    // (smooth_sgp.cpp:34-60); oracle SQL generated from the same coefficient
    // matrix, so the linear algebra is cross-checked end-to-end
    DriverQuery("ts_sgolay", ((s, dir) =>
      Smooth.sgolay(s, day1(s, dir), order = 3, k = 3)
        .select(col("conv_id"), col("bucket_ts"),
          round(col("value") + lit(1e-9), 4).as("sg_v"))
        .orderBy("conv_id", "bucket_ts")),
      (cte + gapfilledCte + seriesArrCtes +
        s"""
           |SELECT conv_id, tsv[i] AS bucket_ts,
           |  round(($sgCase) + 1e-9, 4) + 0.0 AS sg_v
           |FROM idx ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.4 Whittaker smoother (pentadiagonal solve — not SQL-expressible;
    // correctness locked by the dense-solve kernel oracle in ScalaTest)
    // §2.4 Whittaker — verified through the OPTIMALITY-CONDITION residual:
    // the smoother's output z is the unique solution of (I + λD″ᵀD″)z = y,
    // so r = y − z − λ(D″ᵀD″z) is ≈0 iff z is correct; the query emits y
    // (oracle-recomputable) and r (oracle asserts the constant 0.0), which
    // pins z without DuckDB having to solve the pentadiagonal system. The
    // smoothed VALUES are covered by the dense-solve ScalaTest oracle.
    DriverQuery("ts_whittaker", ((s, dir) => {
      val lambda = 2.0
      // ONE group pass emits both y (the grid value, oracle-recomputable)
      // and the optimality residual — no second grid derivation, no join
      Smooth.perSeries2(s, day1(s, dir), ("value", "resid")) { vs =>
        val z = graft.functions.SeriesKernels.whittaker(vs, lambda)
        val n = vs.length
        val d = Array.tabulate(math.max(n - 2, 0))(j => z(j) - 2 * z(j + 1) + z(j + 2))
        def dd(j: Int) = if (j >= 0 && j < d.length) d(j) else 0.0
        (vs, Array.tabulate(n)(i =>
          vs(i) - z(i) - lambda * (dd(i - 2) - 2 * dd(i - 1) + dd(i))))
      }
        .select(col("conv_id"), col("bucket_ts"), col("value"),
          round(col("resid") + lit(1e-9), 4).as("resid"))
        .orderBy("conv_id", "bucket_ts")
    }),
      // Whittaker optimality-condition oracle: the query emits y (= the
      // gap-filled grid, recomputed here) and r = y − z − λ(D″ᵀD″z), which is
      // identically 0 iff z solves (I + λD″ᵀD″)z = y — so asserting the
      // constant 0.0 pins the smoother without DuckDB solving the system.
      (cte + gapfilledCte +
        """
          |SELECT conv_id, bucket_ts, value, cast(0.0 AS double) AS resid
          |FROM gapfilled WHERE bucket_ts < timestamp '2024-01-02'
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.8 DTW classification vs per-label prototype patterns (symmetric-2
    // DP kernel — not SQL-expressible; locked by ScalaTest DP oracle;
    // driver performs the rows-only check)
    DriverQuery("ts_dtw", ((s, dir) => {
      val series = ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
      val labels = series.select("conv_id").distinct()
        .withColumn("label", substring(col("conv_id"), 2, 6).cast("int") % 3 + 1)
      // lambda > 0: Whittaker-smoothed prototypes (≙ the reference's GAM
      // penalized-spline fit, sits_patterns.R:38-140)
      val pats = ChangeDetect.patterns(series, labels, lambda = 1.0)
      ChangeDetect.dtwClassify(s, series, pats)
        .select(col("conv_id"), col("label"),
          round(col("dtw_dist") + lit(1e-9), 4).as("dtw_dist"))
        .orderBy("conv_id")
    }),
      // wavefront DP over Whittaker-smoothed (λ=1) prototypes, with the
      // pentadiagonal LDLᵀ solve itself replayed as three sweep recursions
      dtwLambdaSql),
    // §2.8 DTW with PLAIN-MEAN patterns (lambda=0) — the DP itself is
    // oracle-replayed in DuckDB as an anti-diagonal wavefront recursion
    // (pure abs/min/+ arithmetic, bit-identical across engines), so the
    // symmetric-2 kernel is driver-verified end-to-end; ts_dtw above keeps
    // the smoothed-prototype (GAM-analog) variant
    DriverQuery("ts_dtw_mean", ((s, dir) => {
      val series = ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
      val labels = series.select("conv_id").distinct()
        .withColumn("label", substring(col("conv_id"), 2, 6).cast("int") % 3 + 1)
      val pats = ChangeDetect.patterns(series, labels, lambda = 0.0)
      ChangeDetect.dtwClassify(s, series, pats)
        .select(col("conv_id"), col("label"),
          round(col("dtw_dist") + lit(1e-9), 4).as("dtw_dist"))
        .orderBy("conv_id")
    }),
      // anti-diagonal wavefront DP replay — see dtwSql builders
      dtwSql),
    // §2.8 sits_patterns GAM-family parity: penalized B-SPLINE prototypes
    // (P-spline, Eilers-Marx — penalized spline basis + quadratic
    // difference penalty, the same family mgcv's s(x) fits in the
    // reference, sits_patterns.R:38-140). Driver row = the optimality
    // certificate: bty = (B'y)_j recomputed by the oracle from its own
    // per-label mean series and the closed-form uniform cubic basis;
    // resid = (B'y − (B'B + λD₂'D₂)a)_j ≡ 0 iff the engine's
    // coefficients solve the penalized normal equations
    DriverQuery("ts_patterns", ((s, dir) => {
      val series = ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
      val labels = series.select("conv_id").distinct()
        .withColumn("label", substring(col("conv_id"), 2, 6).cast("int") % 3 + 1)
      ChangeDetect.patternsBsplineCertificate(series, labels,
          lambda = 1.0, k = 8)
        .orderBy("label", "j")
    }),
      patternsSql),
    // §2.5 sits_texture GLCM metrics, 1-D adaptation: one symmetric lag-1
    // co-occurrence matrix per conv day-series, reference formulas verbatim
    DriverQuery("ts_texture", ((s, dir) =>
      Texture.glcmSeries(
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01"))
        .orderBy("conv_id")),
      // 1-D GLCM: quantize → lag-1 symmetric co-occurrence → metric sums
      // (identical moment forms both engines; round-4 absorbs fold order)
      (cte + metricsCte +
        """, days AS (
          |  SELECT conv_id,
          |         date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
          |         avg(text_len) AS value
          |  FROM metrics GROUP BY 1, 2
          |), mmx AS (
          |  SELECT conv_id, min(value) AS mn, max(value) AS mx FROM days GROUP BY 1
          |), gq AS (
          |  SELECT d.conv_id, d.idx,
          |         cast(floor((d.value - m.mn) / (m.mx - m.mn) * 16) AS int) AS grey
          |  FROM days d JOIN mmx m USING (conv_id) WHERE m.mx > m.mn
          |), gl AS (
          |  SELECT conv_id, grey,
          |         lead(grey) OVER (PARTITION BY conv_id ORDER BY idx) AS g2
          |  FROM gq
          |), prs AS (
          |  SELECT conv_id, grey, g2 FROM gl
          |  WHERE g2 IS NOT NULL AND grey < 16 AND g2 < 16
          |), cells AS (
          |  SELECT conv_id, gi, gj, count(*) AS cnt FROM (
          |    SELECT conv_id, grey AS gi, g2 AS gj FROM prs
          |    UNION ALL
          |    SELECT conv_id, g2 AS gi, grey AS gj FROM prs)
          |  GROUP BY 1, 2, 3
          |), wp AS (
          |  SELECT conv_id, gi, gj,
          |         cast(cnt AS double) / sum(cnt) OVER (PARTITION BY conv_id) AS p
          |  FROM cells
          |), ag AS (
          |  SELECT conv_id,
          |    sum(p * (gi - gj) * (gi - gj)) AS s_con,
          |    sum(p * abs(gi - gj)) AS s_dis,
          |    sum(p / (1 + (gi - gj) * (gi - gj))) AS s_hom,
          |    sum(p * p) AS s_p2,
          |    sum(p * gi) AS s_pi,
          |    sum(p * gi * gi) AS s_pi2,
          |    sum(p * gi * gj) AS s_pij
          |  FROM wp GROUP BY 1
          |)
          |SELECT conv_id,
          |  round(s_con + 1e-9, 4) AS contrast,
          |  round(s_dis + 1e-9, 4) AS dissimilarity,
          |  round(s_hom + 1e-9, 4) AS homogeneity,
          |  round(sqrt(s_p2) + 1e-9, 4) AS energy,
          |  round(s_p2 + 1e-9, 4) AS asm,
          |  round(s_pi + 1e-9, 4) AS glcm_mean,
          |  round(s_pi2 - s_pi * s_pi + 1e-9, 4) + 0.0 AS variance,
          |  round(sqrt(greatest(0.0, s_pi2 - s_pi * s_pi)) + 1e-9, 4) + 0.0 AS std,
          |  round(CASE WHEN s_pi2 - s_pi * s_pi < 1e-15 THEN 1.0
          |             ELSE (s_pij - s_pi * s_pi) / (s_pi2 - s_pi * s_pi) END + 1e-9, 4)
          |    + 0.0 AS correlation
          |FROM ag ORDER BY conv_id""".stripMargin)),
    // §2.5 sits_segmentation, 1-D adaptation: optimal piecewise-constant
    // partitioning (exact PELT-objective DP) of each conv day-series
    DriverQuery("ts_segment", ((s, dir) => {
      // the raw day-series is near-constant (std « lambda) — plant a
      // deterministic level shift on half the convs (mirrored in the
      // oracle) so the DP has a real boundary to find and the query is
      // non-vacuous; unshifted convs assert the no-split side
      val base = ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
      val shifted = base.withColumn("value", col("value") +
        when(substring(col("conv_id"), 2, 6).cast("int") % 2 === 0 &&
          col("idx") >= 14, 40.0).otherwise(0.0))
      Segment.segmentSeries(shifted, lambda = 500.0).orderBy("conv_id", "seg")
    }),
      // optimal-partitioning DP replay — see segmentSql builders
      segmentSql),
    // §2.8 bayts online change detection over two fused metric bands
    DriverQuery("ts_bayts", ((s, dir) => {
      val a = ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
      val b = ChangeDetect.daySeries(transcripts(s, dir), "is_tool", "2024-01-01")
      ChangeDetect.bayts(s, a, b,
        Array((130.0, 40.0, 210.0, 40.0), (0.2, 0.2, 0.8, 0.2)))
        .orderBy("conv_id")
    }),
      // full sequential-detect replay as a recursive CTE (state machine per
      // conv: one row per step, stops on confirm) — see baytsSql builders
      baytsSql),
    // §2.8 sits_geo_dist analog (1-D): min temporal distance from each
    // sample conversation's start to any reference conversation's start
    DriverQuery("ts_geo_dist", ((s, dir) => {
      val starts = transcripts(s, dir).groupBy("conv_id")
        .agg(min(col("ts")).as("start_ts"))
      val a = starts.filter(substring(col("conv_id"), 7, 1).cast("int") < 5)
        .select(col("conv_id"), col("start_ts"))
      val b = starts.filter(substring(col("conv_id"), 7, 1).cast("int") >= 5)
        .select(col("conv_id").as("ref_id"), col("start_ts").as("ref_ts"))
      a.crossJoin(broadcast(b))
        .groupBy(col("conv_id"), col("start_ts"))
        .agg(min(abs(GridSeries.ms(col("start_ts"))
          - GridSeries.ms(col("ref_ts")))).as("min_dist_ms"))
        .orderBy("conv_id")
    }),
      (cte +
        """, starts AS (
          |  SELECT conv_id, min(ts) AS start_ts FROM transcripts GROUP BY conv_id
          |), sa AS (
          |  SELECT conv_id, start_ts FROM starts WHERE cast(substring(conv_id, 7, 1) AS int) < 5
          |), sb AS (
          |  SELECT conv_id AS ref_id, start_ts AS ref_ts FROM starts WHERE cast(substring(conv_id, 7, 1) AS int) >= 5
          |)
          |SELECT sa.conv_id, sa.start_ts,
          |  min(abs(epoch_ms(sa.start_ts) - epoch_ms(sb.ref_ts))) AS min_dist_ms
          |FROM sa CROSS JOIN sb
          |GROUP BY 1, 2 ORDER BY sa.conv_id""".stripMargin)),
    // §2.8 sits_cluster_dendro: single-linkage clustering over pairwise DTW
    // distances (distributed distance matrix, driver-side dendrogram cut —
    // not SQL-expressible; deterministic; rows-only driver check)
    // deterministic conv % 3 sample set (the reference clusters sample
    // tibbles) — bounded pair count keeps the full pairwise-DTW +
    // single-linkage replay SQL-feasible at every SF
    DriverQuery("ts_cluster", ((s, dir) =>
      ChangeDetect.clusterDendro(s,
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
          .filter(substring(col("conv_id"), 2, 6).cast("int") % 3 === 0),
        nClusters = 3).orderBy("conv_id")),
      clusterSql),
    // §2.8 sits_cluster_frequency: label × cluster contingency with Total
    // margins via native CUBE grouping sets; labels = per-conv majority role
    DriverQuery("ts_cluster_freq", ((s, dir) => {
      val clustered = ChangeDetect.clusterDendro(s,
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
          .filter(substring(col("conv_id"), 2, 6).cast("int") % 3 === 0),
        nClusters = 3)
        .join(Select.majorityRole(transcripts(s, dir)), "conv_id")
      ChangeDetect.clusterFrequency(clustered).orderBy("label", "cluster")
    }),
      (clusterCtes + majorityRoleCte +
        """, cl AS (
          |  SELECT a.cluster, l.label FROM assigned a JOIN lab l USING (conv_id)
          |)
          |SELECT coalesce(label, 'Total') AS label,
          |       coalesce(cast(cluster AS varchar), 'Total') AS cluster,
          |       CAST(count(*) AS bigint) AS n
          |FROM cl GROUP BY CUBE (label, cluster)
          |ORDER BY 1, 2""".stripMargin)),
    // §2.8 sits_cluster_clean: keep each cluster's majority label only
    DriverQuery("ts_cluster_clean", ((s, dir) => {
      val clustered = ChangeDetect.clusterDendro(s,
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01")
          .filter(substring(col("conv_id"), 2, 6).cast("int") % 3 === 0),
        nClusters = 3)
        .join(Select.majorityRole(transcripts(s, dir)), "conv_id")
      ChangeDetect.clusterClean(clustered)
        .select("conv_id", "cluster", "label").orderBy("conv_id")
    }),
      (clusterCtes + majorityRoleCte +
        """, cl AS (
          |  SELECT a.conv_id, a.cluster, l.label
          |  FROM assigned a JOIN lab l USING (conv_id)
          |), top AS (
          |  SELECT cluster, label FROM (
          |    SELECT cluster, label, count(*) AS n,
          |           row_number() OVER (PARTITION BY cluster
          |                              ORDER BY count(*) DESC, label) AS rn
          |    FROM cl GROUP BY cluster, label) WHERE rn = 1
          |)
          |SELECT c.conv_id, c.cluster, c.label
          |FROM cl c JOIN top t ON c.cluster = t.cluster AND c.label = t.label
          |ORDER BY c.conv_id""".stripMargin)),
    // §2.5 general sits_apply expression API: new metrics from arbitrary
    // Catalyst expressions over existing metrics, incl. w_* kernel refs
    DriverQuery("ts_apply_expr", ((s, dir) => {
      val dm = metrics(s, dir)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
        .agg(round(avg("text_len") + lit(1e-9), 4).as("value"))
      val withLg = Apply.withMetric(dm, "lg", "round(log(value + 1.0D) + 1e-9, 4)")
      Apply.withMetric(withLg, "anomaly",
        "round(value - w_mean(value, 2) + 1e-9, 4)")
        .select("conv_id", "bucket_ts", "value", "lg", "anomaly")
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
        """, dm AS (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
          |         round(avg(text_len) + 1e-9, 4) AS value
          |  FROM metrics GROUP BY 1, 2
          |), darr AS (
          |  SELECT conv_id, list(bucket_ts ORDER BY bucket_ts) AS tsv,
          |         list(value ORDER BY bucket_ts) AS vals
          |  FROM dm GROUP BY conv_id
          |), didx AS (
          |  SELECT conv_id, tsv, vals, len(vals) AS n,
          |         unnest(generate_series(1, len(vals))) AS i
          |  FROM darr
          |), dwin AS (
          |  SELECT conv_id, tsv[i] AS bucket_ts, vals[i] AS v0,
          |    list_transform(generate_series(-2, 2), j ->
          |      vals[greatest(0, least(n - 1,
          |           CASE WHEN i - 1 + j < 0 THEN -(i - 1 + j) - 1
          |                WHEN i - 1 + j >= n THEN 2 * n - (i - 1 + j) - 1
          |                ELSE i - 1 + j END)) + 1]) AS w
          |  FROM didx
          |)
          |SELECT conv_id, bucket_ts, v0 AS value,
          |  round(ln(v0 + 1.0) + 1e-9, 4) AS lg,
          |  round(v0 - round(list_sum(w) / 5 + 1e-9, 4) + 1e-9, 4) + 0.0 AS anomaly
          |FROM dwin ORDER BY conv_id, bucket_ts""".stripMargin)),
    // chat-format lint: role-alternation structure per conversation (the
    // events-derived roles are independent of turn order, so every counter
    // varies naturally)
    DriverQuery("ts_chat_lint", ((s, dir) =>
      Select.chatLint(transcripts(s, dir)).orderBy("conv_id")),
      (cte +
        """, lagged AS (
          |  SELECT conv_id, turn_idx, role,
          |         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
          |  FROM transcripts
          |), agg AS (
          |  SELECT conv_id,
          |    CAST(count(*) AS bigint) AS n_turns,
          |    bool_or(turn_idx = 0 AND role = 'user') AS starts_user,
          |    CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS bigint)
          |      AS n_same_adjacent,
          |    CAST(sum(CASE WHEN role = 'tool' AND prev_role = 'user' THEN 1 ELSE 0 END) AS bigint)
          |      AS n_tool_after_user
          |  FROM lagged GROUP BY conv_id
          |)
          |SELECT conv_id, n_turns, starts_user, n_same_adjacent, n_tool_after_user,
          |  round(cast(n_same_adjacent AS double) / n_turns + 1e-9, 4) AS frac_breaks
          |FROM agg ORDER BY conv_id""".stripMargin)),
    // end-to-end conversation curation: boiler screen → ≥4-surviving-turns
    // floor → whole-conv content dedup. Plants make every stage bite:
    // 'z'-prefixed full copies of the %1 convs collapse onto their
    // originals (dedup), 'y'-prefixed 3-turn stubs fail the floor
    DriverQuery("ts_curate_convs", ((s, dir) => {
      val t = transcripts(s, dir).select("conv_id", "turn_idx", "text")
      val z = t.filter(col("conv_id").endsWith("1"))
        .withColumn("conv_id", concat(lit("z"), col("conv_id")))
      val y = t.filter(col("conv_id").endsWith("1") && col("turn_idx") <= 2)
        .withColumn("conv_id", concat(lit("y"), col("conv_id")))
      Dedup.curateConversations(t.unionByName(z).unionByName(y))
        .orderBy("conv_id")
    }),
      (cte +
        """, planted AS (
          |  SELECT conv_id, turn_idx, text FROM transcripts
          |  UNION ALL
          |  SELECT 'z' || conv_id, turn_idx, text FROM transcripts
          |  WHERE conv_id LIKE '%1'
          |  UNION ALL
          |  SELECT 'y' || conv_id, turn_idx, text FROM transcripts
          |  WHERE conv_id LIKE '%1' AND turn_idx <= 2
          |), fps AS (
          |  SELECT conv_id, turn_idx,
          |         md5(lower(regexp_replace(
          |           regexp_replace(text, '^[^:]*:[^:]*:', ''), '\s+', ' ', 'g'))) AS fp
          |  FROM planted
          |), tot AS (
          |  SELECT count(DISTINCT conv_id) AS n FROM planted
          |), boiler AS (
          |  SELECT fp FROM fps GROUP BY fp
          |  HAVING count(DISTINCT conv_id) * 2 >= (SELECT n FROM tot)
          |), kept AS (
          |  SELECT f.conv_id, f.turn_idx, f.fp
          |  FROM fps f LEFT JOIN boiler b USING (fp) WHERE b.fp IS NULL
          |), conv AS (
          |  SELECT conv_id, CAST(count(*) AS bigint) AS n_kept,
          |         md5(string_agg(fp, '|' ORDER BY turn_idx)) AS conv_fp
          |  FROM kept GROUP BY conv_id
          |), totals AS (
          |  SELECT conv_id, CAST(count(*) AS bigint) AS n_turns
          |  FROM planted GROUP BY conv_id
          |), qual AS (
          |  SELECT c.conv_id, t.n_turns, c.n_kept, c.conv_fp
          |  FROM conv c JOIN totals t USING (conv_id) WHERE c.n_kept >= 4
          |), canon AS (
          |  SELECT conv_fp, min(conv_id) AS conv_id FROM qual GROUP BY conv_fp
          |)
          |SELECT q.conv_id, q.n_turns, q.n_kept, q.conv_fp
          |FROM qual q JOIN canon c ON q.conv_id = c.conv_id AND q.conv_fp = c.conv_fp
          |ORDER BY q.conv_id""".stripMargin)),
    // Benford first-digit census over turn text lengths — the pipeline-bug
    // / fabricated-data screen; 9 digit groups, hard-coded log10 literals
    DriverQuery("ts_benford", ((s, dir) =>
      Summary.benfordDigits(metrics(s, dir), "text_len").orderBy("digit")),
      (cte + metricsCte +
        """, d AS (
          |  SELECT substr(cast(cast(text_len AS bigint) AS varchar), 1, 1)
          |    AS digit, cast(count(*) AS bigint) AS n
          |  FROM metrics WHERE cast(text_len AS bigint) > 0 GROUP BY 1
          |), p AS (
          |  SELECT * FROM (VALUES
          |    ('1', 0.3010299956639812), ('2', 0.17609125905568124),
          |    ('3', 0.12493873660829993), ('4', 0.09691001300805642),
          |    ('5', 0.07918124604762482), ('6', 0.06694678963061322),
          |    ('7', 0.05799194697768673), ('8', 0.05115252244738129),
          |    ('9', 0.04575749056067514)) AS p(digit, exp_p)
          |), t AS (
          |  SELECT d.digit, d.n, cast(p.exp_p AS double) AS exp_p,
          |    cast(sum(d.n) OVER () AS bigint) AS total
          |  FROM d JOIN p USING (digit)
          |)
          |SELECT digit, n,
          |  round(cast(n AS double) / total + 1e-9, 4) AS share,
          |  round(exp_p + 1e-9, 4) AS exp_p,
          |  round((n - total * exp_p) * (n - total * exp_p)
          |        / (total * exp_p) + 1e-9, 4) AS chi_term
          |FROM t ORDER BY digit""".stripMargin),
      plan = Some(SinglePartitionAllowed("total window over the ≤9-row digit census"))),
    // per-HOUR corpus-wide inter-arrival quantile UBs — the fleet latency
    // dashboard: log2 buckets make the hot-hour group (billions of rows at
    // 10^12 turns) a ≤64-cell partially-aggregated census, never a sort
    DriverQuery("ts_global_latency_hist", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val tsMs = GridSeries.ms(col("ts"))
      val g = metrics(s, dir)
        .withColumn("gap", tsMs - lag(tsMs, 1).over(w))
        .filter(col("gap").isNotNull)
        .withColumn("hour_ts", date_trunc("hour", col("ts")))
      Summary.logHistQuantiles(g, "hour_ts", "gap", Seq(0.5, 0.95, 0.99))
        .orderBy("hour_ts")
    }),
      (cte + metricsCte +
        """, g AS (
          |  SELECT date_trunc('hour', ts) AS hour_ts,
          |    epoch_ms(ts) - lag(epoch_ms(ts))
          |      OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS gap
          |  FROM metrics
          |), gg AS (
          |  SELECT hour_ts, gap,
          |    CASE WHEN gap <= 0 THEN -1
          |         ELSE length(printf('%b', gap)) - 1 END AS bucket
          |  FROM g WHERE gap IS NOT NULL
          |), h AS (
          |  SELECT hour_ts, bucket, count(*) AS cnt FROM gg GROUP BY 1, 2
          |), c AS (
          |  SELECT hour_ts, bucket, cnt,
          |    CAST(sum(cnt) OVER (PARTITION BY hour_ts ORDER BY bucket)
          |         AS BIGINT) AS cum,
          |    CAST(sum(cnt) OVER (PARTITION BY hour_ts) AS BIGINT) AS n,
          |    CASE WHEN bucket < 0 THEN 0
          |         ELSE (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END AS ub
          |  FROM h
          |)
          |SELECT hour_ts, n AS n_obs,
          |  min(CASE WHEN cum >= ceil(0.5 * n) THEN ub END) AS p50_ub,
          |  min(CASE WHEN cum >= ceil(0.95 * n) THEN ub END) AS p95_ub,
          |  min(CASE WHEN cum >= ceil(0.99 * n) THEN ub END) AS p99_ub
          |FROM c GROUP BY 1, 2 ORDER BY hour_ts""".stripMargin),
      plan = Some(ShuffleBudget(4, "conv gap window + (hour,hb) census"))),
    // deterministic weighted priority sample of conversations (heavier
    // conversations sampled first): integer key u32(md5(conv)) div weight
    // — no RNG, resume-stable, planned as TakeOrderedAndProject
    DriverQuery("ts_weighted_sample", ((s, dir) =>
      Select.weightedPrioritySample(
        transcripts(s, dir).groupBy("conv_id")
          .agg(sum(length(col("text"))).as("w")),
        "conv_id", "w", k = 16)),
      (cte +
        s""", wts AS (
          |  SELECT conv_id AS key, cast(sum(length(text)) AS bigint) AS weight
          |  FROM transcripts GROUP BY 1
          |), k AS (
          |  SELECT key, weight, ${u32Sql("key")} AS h FROM wts
          |  WHERE weight > 0
          |), p AS (
          |  SELECT key, weight, h, h // weight AS priority
          |  FROM k ORDER BY priority, key LIMIT 16
          |)
          |SELECT key, weight, h, priority,
          |  CAST(row_number() OVER (ORDER BY priority, key) AS INT) AS rank
          |FROM p ORDER BY rank""".stripMargin),
      plan = Some(SinglePartitionAllowed("rank window over the k-row TakeOrdered result"))),
    // Page–Hinkley running-mean drift detector (cusum's sibling; exact
    // rational running mean, 4-dp-quantized one-sided recursions)
    DriverQuery("ts_page_hinkley", ((s, dir) =>
      SeriesOps.pageHinkley(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        delta = 0.1, lambda = 1.5).orderBy("conv_id")),
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, epoch_ms(ts) AS t, text_len AS y,
          |    cast(row_number() OVER w AS int) AS idx,
          |    round(sum(text_len) OVER (PARTITION BY conv_id
          |            ORDER BY ts, turn_idx ROWS UNBOUNDED PRECEDING)
          |          / cast(row_number() OVER w AS double) + 1e-9, 4) AS m
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), r AS (
          |  SELECT conv_id, idx, t, u_e, d_e,
          |         (u_e > 1.5 OR d_e > 1.5) AS alarm,
          |         CASE WHEN u_e > 1.5 OR d_e > 1.5 THEN 0.0 ELSE u_e END AS u,
          |         CASE WHEN u_e > 1.5 OR d_e > 1.5 THEN 0.0 ELSE d_e END AS d
          |  FROM (
          |    SELECT conv_id, idx, t,
          |      greatest(0.0, round(y - m - 0.1 + 1e-9, 4)) AS u_e,
          |      greatest(0.0, round(m - y - 0.1 + 1e-9, 4)) AS d_e
          |    FROM v WHERE idx = 1
          |  )
          |  UNION ALL
          |  SELECT conv_id, idx, t, u_e, d_e,
          |         (u_e > 1.5 OR d_e > 1.5) AS alarm,
          |         CASE WHEN u_e > 1.5 OR d_e > 1.5 THEN 0.0 ELSE u_e END AS u,
          |         CASE WHEN u_e > 1.5 OR d_e > 1.5 THEN 0.0 ELSE d_e END AS d
          |  FROM (
          |    SELECT v.conv_id, v.idx, v.t,
          |      greatest(0.0, round(r.u + v.y - v.m - 0.1 + 1e-9, 4)) AS u_e,
          |      greatest(0.0, round(r.d + v.m - v.y - 0.1 + 1e-9, 4)) AS d_e
          |    FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1
          |  )
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
          |  coalesce(min(CASE WHEN alarm THEN t END), -1) AS first_alarm_ms,
          |  max(greatest(u_e, d_e)) + 0.0 AS max_stat
          |FROM r GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // Allan variance of inter-arrival seconds — cadence-jitter statistic;
    // all-integer sums until the final division
    DriverQuery("ts_allan", ((s, dir) =>
      SeriesOps.allanVariance(transcripts(s, dir)).orderBy("conv_id")),
      (cte +
        """, g AS (
          |  SELECT conv_id, ts, turn_idx,
          |    (epoch_ms(ts) - lag(epoch_ms(ts)) OVER w) // 1000 AS gs
          |  FROM transcripts
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), dd AS (
          |  SELECT conv_id,
          |    gs - lag(gs) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |      AS dg
          |  FROM g
          |), a AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_pairs,
          |    cast(sum(dg * dg) AS bigint) AS ss
          |  FROM dd WHERE dg IS NOT NULL GROUP BY 1
          |)
          |SELECT conv_id, n_pairs + 1 AS n_gaps,
          |  round(cast(ss AS double) / (2.0 * n_pairs) + 1e-9, 4) AS avar_s2,
          |  round(sqrt(cast(ss AS double) / (2.0 * n_pairs)) + 1e-9, 4)
          |    AS adev_s
          |FROM a ORDER BY conv_id""".stripMargin)),
    // corpus tool-transition matrix (Markov view of agent tool chains)
    DriverQuery("ts_tool_trans", ((s, dir) =>
      SeriesOps.toolTransitions(transcripts(s, dir))
        .orderBy("from_tool", "to_tool")),
      (cte +
        """, tp AS (
          |  SELECT conv_id,
          |    lag(tool) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |      AS from_tool,
          |    tool AS to_tool
          |  FROM (SELECT * FROM transcripts WHERE tool IS NOT NULL)
          |), cg AS (
          |  SELECT from_tool, to_tool, cast(count(*) AS bigint) AS n
          |  FROM tp WHERE from_tool IS NOT NULL GROUP BY 1, 2
          |)
          |SELECT from_tool, to_tool, n,
          |  round(cast(n AS double)
          |    / cast(sum(n) OVER (PARTITION BY from_tool) AS double)
          |    + 1e-9, 4) AS p
          |FROM cg ORDER BY from_tool, to_tool""".stripMargin)),
    // novelty-rate timeline: share of each day's distinct fingerprints
    // first seen that day — the corpus-freshness ingest dashboard
    DriverQuery("ts_novelty_rate", ((s, dir) =>
      Dedup.noveltyRate(transcripts(s, dir),
        regexp_replace(col("text"), "^[^:]*:[^:]*:", "")).orderBy("day")),
      (cte +
        """, fp0 AS (
          |  SELECT regexp_replace(text, '^[^:]*:[^:]*:', '') AS fp,
          |    date_trunc('day', ts) AS day
          |  FROM transcripts
          |), fd AS (
          |  SELECT fp, day, cast(count(*) AS bigint) AS c
          |  FROM fp0 GROUP BY 1, 2
          |), fr AS (
          |  SELECT fp, min(day) AS first_day FROM fd GROUP BY 1
          |)
          |SELECT fd.day, cast(sum(c) AS bigint) AS n_turns,
          |  cast(count(*) AS bigint) AS n_fps,
          |  cast(sum(CASE WHEN fd.day = fr.first_day THEN 1 ELSE 0 END)
          |    AS bigint) AS n_new_fps,
          |  round(cast(sum(CASE WHEN fd.day = fr.first_day THEN 1 ELSE 0 END)
          |    AS double) / count(*) + 1e-9, 4) AS novelty
          |FROM fd JOIN fr USING (fp) GROUP BY 1 ORDER BY 1""".stripMargin),
      plan = Some(ShuffleBudget(4,
        "fp census + fp window + day merge (one raw scan; the self-join shape " +
        "would be two)"))),
    // deterministic linear-counting distinct estimate (m=1024 buckets)
    DriverQuery("ts_approx_distinct", ((s, dir) =>
      Summary.linearCountDistinct(transcripts(s, dir), "conv_id", m = 1024)),
      (cte +
        """, b AS (
          |  SELECT DISTINCT CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |    cast(strpos('0123456789abcdef', substr(md5(conv_id), cast(d AS int), 1)) - 1 AS bigint)
          |      * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) % 1024 AS bucket
          |  FROM transcripts WHERE conv_id IS NOT NULL
          |)
          |SELECT 1024 AS m, count(*) AS occupied,
          |  round(cast(1024.0 AS double) *
          |        ln(cast(1024.0 AS double) / (1024 - count(*))) + 1e-9, 4) AS est_distinct
          |FROM b""".stripMargin),
      plan = Some(SinglePartitionAllowed("the m-bounded occupied-bucket count"))),
    // histogram-quantile estimator: one 64-bin pass, ≤1-bin-width error
    DriverQuery("ts_approx_quantiles", ((s, dir) =>
      Summary.histQuantiles(metrics(s, dir), "text_len", nBins = 64,
        ps = Seq(0.25, 0.5, 0.75, 0.9)).orderBy("p")),
      (cte + metricsCte +
        """, mm AS (
          |  SELECT min(text_len) AS mn, max(text_len) AS mx FROM metrics
          |), binned AS (
          |  SELECT cast(least(floor((text_len - mn) / (mx - mn) * 64), 63) AS int) AS bin,
          |         mn, mx
          |  FROM metrics CROSS JOIN mm WHERE text_len IS NOT NULL
          |), hb AS (
          |  SELECT bin,
          |    round(mn + bin * (mx - mn) / 64 + 1e-9, 4) AS lo,
          |    round(mn + (bin + 1) * (mx - mn) / 64 + 1e-9, 4) AS hi,
          |    count(*) AS cnt
          |  FROM binned GROUP BY bin, mn, mx
          |), cum AS (
          |  SELECT bin, lo, hi, cnt,
          |    CAST(coalesce(sum(cnt) OVER (ORDER BY bin
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
          |    CAST(sum(cnt) OVER () AS BIGINT) AS n
          |  FROM hb
          |), qs AS (
          |  SELECT unnest(cast([0.25, 0.5, 0.75, 0.9] AS double[])) AS p
          |), pick AS (
          |  SELECT p, lo, hi, cnt, cumb, n,
          |    row_number() OVER (PARTITION BY p ORDER BY bin) AS rn
          |  FROM qs JOIN cum ON cumb + cnt >= p * n AND cnt > 0
          |)
          |SELECT p,
          |  round(greatest(lo, least(lo + (p * n - cumb) / cnt * (hi - lo), hi)) + 1e-9, 4) AS q_est
          |FROM pick WHERE rn = 1 ORDER BY p""".stripMargin)),
    // §2.1 hist() verb: 20 fixed bins over the global text_len range
    DriverQuery("ts_histogram", ((s, dir) =>
      Summary.histogram(metrics(s, dir), "text_len", nBins = 20).orderBy("bin")),
      (cte + metricsCte +
        """, mm AS (
          |  SELECT min(text_len) AS mn, max(text_len) AS mx FROM metrics
          |), binned AS (
          |  SELECT cast(least(floor((text_len - mn) / (mx - mn) * 20), 19) AS int) AS bin,
          |         mn, mx
          |  FROM metrics CROSS JOIN mm WHERE text_len IS NOT NULL
          |)
          |SELECT bin,
          |  round(mn + bin * (mx - mn) / 20 + 1e-9, 4) AS lo,
          |  round(mn + (bin + 1) * (mx - mn) / 20 + 1e-9, 4) AS hi,
          |  count(*) AS cnt
          |FROM binned GROUP BY bin, mn, mx ORDER BY bin""".stripMargin)),
    // per-conversation gap/heartbeat report (threshold 10 min), exact ms
    DriverQuery("ts_gaps", ((s, dir) =>
      Downsample.gapReport(metrics(s, dir), thresholdMs = 600000L)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, dd AS (
          |  SELECT conv_id,
          |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY conv_id
          |                                          ORDER BY ts, turn_idx)) AS d
          |  FROM metrics
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  coalesce(CAST(sum(CASE WHEN d > 600000 THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_gaps,
          |  coalesce(max(CASE WHEN d > 600000 THEN d END), 0) AS max_gap_ms,
          |  coalesce(CAST(sum(CASE WHEN d > 600000 THEN d END) AS BIGINT), 0) AS idle_ms
          |FROM dd GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // counter_agg/rate shape: running text_len counter per conv (ordered
    // running-frame cumsum), then per-hour delta + per-second rate
    DriverQuery("ts_rate", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("conv_id").orderBy("ts", "turn_idx")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = metrics(s, dir).withColumn("cum", sum("text_len").over(w))
      Downsample.counterRate(cum, date_trunc("hour", col("ts")), "cum",
          ord = struct(col("ts"), col("turn_idx")))
        .withColumn("delta", col("delta").cast("long"))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
        """, cm AS (
          |  SELECT conv_id, ts, turn_idx,
          |    sum(text_len) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
          |                        ROWS UNBOUNDED PRECEDING) AS cum,
          |    date_trunc('hour', ts) AS bucket_ts
          |  FROM metrics
          |), rk AS (
          |  SELECT conv_id, bucket_ts, cum, ts,
          |    row_number() OVER (PARTITION BY conv_id, bucket_ts
          |                       ORDER BY ts, turn_idx) AS ra,
          |    row_number() OVER (PARTITION BY conv_id, bucket_ts
          |                       ORDER BY ts DESC, turn_idx DESC) AS rd
          |  FROM cm
          |), ag AS (
          |  SELECT conv_id, bucket_ts,
          |    CAST(min(CASE WHEN rd = 1 THEN cum END)
          |         - min(CASE WHEN ra = 1 THEN cum END) AS BIGINT) AS delta,
          |    epoch_ms(max(ts)) - epoch_ms(min(ts)) AS span_ms,
          |    count(*) AS n
          |  FROM rk GROUP BY 1, 2
          |)
          |SELECT conv_id, bucket_ts, delta, span_ms, n,
          |  CASE WHEN span_ms > 0
          |       THEN round(cast(delta AS double) * 1000.0 / span_ms + 1e-9, 4)
          |       ELSE 0.0 END AS rate
          |FROM ag ORDER BY conv_id, bucket_ts""".stripMargin)),
    // SAX symbolization (Lin et al. 2003): z-norm → 8-frame PAA → 4-letter
    // alphabet at the N(0,1) quartile breakpoints, 4-dp quantized
    DriverQuery("ts_sax", ((s, dir) =>
      Downsample.sax(
        metrics(s, dir).withColumnRenamed("text_len", "value"), segments = 8)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, count(*) AS n,
          |    round(avg(text_len) + 1e-9, 4) AS mu,
          |    round(sqrt(avg(text_len * text_len) - avg(text_len) * avg(text_len)) + 1e-9, 4) AS sd
          |  FROM metrics GROUP BY 1
          |), ok AS (
          |  SELECT * FROM st WHERE n >= 8 AND sd > 0
          |), zz AS (
          |  SELECT m.conv_id, o.n,
          |    cast(floor((row_number() OVER (PARTITION BY m.conv_id
          |                                   ORDER BY ts, turn_idx) - 1)
          |               * 8 / o.n) AS int) AS frame,
          |    round((m.text_len - o.mu) / o.sd + 1e-9, 4) AS z
          |  FROM metrics m JOIN ok o USING (conv_id)
          |), paa AS (
          |  SELECT conv_id, frame, any_value(n) AS n,
          |    round(avg(z) + 1e-9, 4) AS paa
          |  FROM zz GROUP BY 1, 2
          |), sy AS (
          |  SELECT conv_id, frame, n,
          |    CASE WHEN paa >= 0.6745 THEN 'd' WHEN paa >= 0 THEN 'c'
          |         WHEN paa >= -0.6745 THEN 'b' ELSE 'a' END AS sym
          |  FROM paa
          |)
          |SELECT conv_id, any_value(n) AS n_points,
          |  string_agg(sym, '' ORDER BY frame) AS sax
          |FROM sy GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // EWMA smoother (α=0.25), step-quantized so the recursion replays
    // exactly in the recursive-CTE oracle — the streaming-friendly member
    // of the sits_filter family (O(1) state per series)
    DriverQuery("ts_ewma", ((s, dir) =>
      Downsample.ewma(
        metrics(s, dir).withColumnRenamed("text_len", "value"), alpha = 0.25)
        .orderBy("conv_id", "idx")),
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx
          |  FROM metrics
          |), r AS (
          |  SELECT conv_id, idx, y, round(y + 1e-9, 4) AS s FROM v WHERE idx = 1
          |  UNION ALL
          |  SELECT v.conv_id, v.idx, v.y,
          |         round(0.75 * r.s + 0.25 * v.y + 1e-9, 4) AS s
          |  FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1
          |)
          |SELECT conv_id, idx, y AS value, s AS ewma
          |FROM r ORDER BY conv_id, idx""".stripMargin)),
    // rolling 3-sigma anomaly screen over a trailing-5 window (never
    // scoring an observation against itself)
    DriverQuery("ts_anomaly", ((s, dir) =>
      Downsample.rollingAnomalies(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        lookback = 5, sigmas = 2.0)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, sc AS (
          |  SELECT conv_id, ts, text_len,
          |    count(*) OVER wf AS wn,
          |    round(avg(text_len) OVER wf + 1e-9, 4) AS mu,
          |    round(sqrt(avg(text_len * text_len) OVER wf
          |               - (avg(text_len) OVER wf) * (avg(text_len) OVER wf)) + 1e-9, 4) AS sd
          |  FROM metrics
          |  WINDOW wf AS (PARTITION BY conv_id ORDER BY ts, turn_idx
          |                ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
          |), fl AS (
          |  SELECT conv_id, ts,
          |    (wn = 5 AND sd > 0) AS checked,
          |    CASE WHEN wn = 5 AND sd > 0
          |         THEN abs(round((text_len - mu) / sd + 1e-9, 4)) > 2.0
          |         ELSE false END AS anom
          |  FROM sc
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  CAST(sum(CASE WHEN checked THEN 1 ELSE 0 END) AS BIGINT) AS n_checked,
          |  CAST(sum(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
          |  coalesce(min(CASE WHEN anom THEN epoch_ms(ts) END), -1) AS first_anom_ms
          |FROM fl GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // per-series Pearson correlation between the two engine metrics on the
    // 1h grid (text length vs tool activity), one shuffle for both bands
    DriverQuery("ts_corr", ((s, dir) =>
      Downsample.seriesCorrelation(
        Regularize.withMetrics(transcripts(s, dir)),
        date_trunc("hour", col("ts")), "text_len", "is_tool")
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, b AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |    round(avg(text_len) + 1e-9, 4) AS x,
          |    round(avg(is_tool) + 1e-9, 4) AS y
          |  FROM metrics GROUP BY 1, 2
          |), ag AS (
          |  SELECT conv_id, count(*) AS n_buckets,
          |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
          |    sum(y * y) AS syy, sum(x * y) AS sxy
          |  FROM b GROUP BY 1
          |), v AS (
          |  SELECT *, round(n_buckets * sxx - sx * sx + 1e-9, 4) AS vx,
          |         round(n_buckets * syy - sy * sy + 1e-9, 4) AS vy
          |  FROM ag
          |)
          |SELECT conv_id, n_buckets,
          |  round((n_buckets * sxy - sx * sy) / sqrt(vx * vy) + 1e-9, 4) + 0.0 AS r
          |FROM v WHERE vx > 0 AND vy > 0 ORDER BY conv_id""".stripMargin)),
    // gap-threshold sessionization (30-min inactivity cut) — all-integer
    // session ledger per conversation
    DriverQuery("ts_sessionize", ((s, dir) =>
      SeriesOps.sessionize(metrics(s, dir), gapMs = 1800000L)
        .orderBy("conv_id", "sess_idx")),
      (cte + metricsCte +
        """, sflag AS (
          |  SELECT conv_id, ts, turn_idx,
          |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) IS NULL
          |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), sid AS (
          |  SELECT conv_id, ts,
          |    sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS sess_idx
          |  FROM sflag
          |)
          |SELECT conv_id, CAST(sess_idx AS BIGINT) AS sess_idx,
          |  count(*) AS n_turns,
          |  min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
          |  max(epoch_ms(ts)) - min(epoch_ms(ts)) AS dur_ms
          |FROM sid GROUP BY conv_id, sess_idx
          |ORDER BY conv_id, sess_idx""".stripMargin)),
    // LOCF time-weighted hourly average (TimescaleDB time_weight shape)
    DriverQuery("ts_timeweight", ((s, dir) =>
      SeriesOps.timeWeightedAvg(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        date_trunc("hour", col("ts")))
        .orderBy("conv_id", "bucket_ts")),
      (cte + metricsCte +
        """, tb AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |    text_len AS value, ts, turn_idx, epoch_ms(ts) AS t
          |  FROM metrics
          |), hw AS (
          |  SELECT conv_id, bucket_ts, value,
          |    coalesce(lead(t) OVER (PARTITION BY conv_id, bucket_ts
          |                           ORDER BY ts, turn_idx) - t, 0) AS hold
          |  FROM tb
          |)
          |SELECT conv_id, bucket_ts, count(*) AS n,
          |  CASE WHEN sum(hold) > 0
          |       THEN round(sum(value * hold) / sum(hold) + 1e-9, 4)
          |       ELSE round(avg(value) + 1e-9, 4) END AS twa
          |FROM hw GROUP BY conv_id, bucket_ts
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // time-in-state duty-cycle ledger over the role column (state_agg shape)
    DriverQuery("ts_state_agg", ((s, dir) =>
      SeriesOps.stateAgg(Regularize.withMetrics(transcripts(s, dir)), "role")
        .orderBy("conv_id", "state")),
      (cte + metricsCte +
        """, sh AS (
          |  SELECT conv_id, role AS state,
          |    coalesce(lead(epoch_ms(ts)) OVER w - epoch_ms(ts), 0) AS hold,
          |    CASE WHEN lag(role) OVER w IS NULL OR lag(role) OVER w <> role
          |         THEN 1 ELSE 0 END AS enter
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |)
          |SELECT conv_id, state, count(*) AS n_obs,
          |  CAST(sum(enter) AS BIGINT) AS n_enter,
          |  CAST(sum(hold) AS BIGINT) AS total_ms
          |FROM sh GROUP BY conv_id, state
          |ORDER BY conv_id, state""".stripMargin)),
    // sample autocorrelation at lags 1..3 per series
    DriverQuery("ts_acf", ((s, dir) =>
      SeriesOps.acf(metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    round(avg(text_len) + 1e-9, 4) AS mu
          |  FROM metrics GROUP BY 1
          |), dxt AS (
          |  SELECT m.conv_id, st.n_obs, m.text_len - st.mu AS dx,
          |    lag(m.text_len - st.mu, 1) OVER w AS dx1,
          |    lag(m.text_len - st.mu, 2) OVER w AS dx2,
          |    lag(m.text_len - st.mu, 3) OVER w AS dx3
          |  FROM metrics m JOIN st ON m.conv_id = st.conv_id
          |  WINDOW w AS (PARTITION BY m.conv_id ORDER BY m.ts, m.turn_idx)
          |), ag AS (
          |  SELECT conv_id, min(n_obs) AS n_obs,
          |    sum(dx * dx) AS c0, sum(dx * dx1) AS c1,
          |    sum(dx * dx2) AS c2, sum(dx * dx3) AS c3
          |  FROM dxt GROUP BY 1
          |)
          |SELECT conv_id, n_obs,
          |  round(c1 / c0 + 1e-9, 4) + 0.0 AS r1,
          |  round(c2 / c0 + 1e-9, 4) + 0.0 AS r2,
          |  round(c3 / c0 + 1e-9, 4) + 0.0 AS r3
          |FROM ag WHERE round(c0 + 1e-9, 4) > 0 ORDER BY conv_id""".stripMargin)),
    // hour-of-day seasonal-baseline anomaly screen
    DriverQuery("ts_seasonal", ((s, dir) =>
      SeriesOps.seasonalAnomalies(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        sigmas = 2.0, minObs = 3)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, prof AS (
          |  SELECT conv_id, hour(ts) AS hod, count(*) AS n_h,
          |    round(avg(text_len) + 1e-9, 4) AS mu_h,
          |    round(sqrt(avg(text_len * text_len)
          |               - avg(text_len) * avg(text_len)) + 1e-9, 4) AS sd_h
          |  FROM metrics GROUP BY 1, 2
          |), jj AS (
          |  SELECT m.conv_id,
          |    (p.n_h >= 3 AND p.sd_h > 0) AS checked,
          |    CASE WHEN p.n_h >= 3 AND p.sd_h > 0
          |         THEN abs(round((m.text_len - p.mu_h) / p.sd_h + 1e-9, 4)) > 2.0
          |         ELSE false END AS anom
          |  FROM metrics m JOIN prof p
          |    ON m.conv_id = p.conv_id AND hour(m.ts) = p.hod
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  CAST(sum(CASE WHEN checked THEN 1 ELSE 0 END) AS BIGINT) AS n_checked,
          |  CAST(sum(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
          |FROM jj GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // two-sided CUSUM change detection (dyadic k/h so literals are
    // float-exact in both engines)
    DriverQuery("ts_cusum", ((s, dir) =>
      SeriesOps.cusum(metrics(s, dir).withColumnRenamed("text_len", "value"),
        k = 0.5, h = 4.0)
        .orderBy("conv_id")),
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, st AS (
          |  SELECT conv_id, round(avg(text_len) + 1e-9, 4) AS mu,
          |    round(sqrt(greatest(0, avg(text_len * text_len)
          |               - avg(text_len) * avg(text_len))) + 1e-9, 4) AS sd
          |  FROM metrics GROUP BY 1
          |), v AS (
          |  SELECT m.conv_id, epoch_ms(m.ts) AS t,
          |    cast(row_number() OVER (PARTITION BY m.conv_id
          |                            ORDER BY m.ts, m.turn_idx) AS int) AS idx,
          |    round((m.text_len - st.mu) / st.sd + 1e-9, 4) AS z
          |  FROM metrics m JOIN st ON m.conv_id = st.conv_id
          |  WHERE st.sd > 0
          |), r AS (
          |  SELECT conv_id, idx, t, sp_e, sn_e,
          |         (sp_e > 4.0 OR sn_e > 4.0) AS alarm,
          |         CASE WHEN sp_e > 4.0 OR sn_e > 4.0 THEN 0.0 ELSE sp_e END AS sp,
          |         CASE WHEN sp_e > 4.0 OR sn_e > 4.0 THEN 0.0 ELSE sn_e END AS sn
          |  FROM (
          |    SELECT conv_id, idx, t,
          |      greatest(0.0, round(z - 0.5 + 1e-9, 4)) AS sp_e,
          |      greatest(0.0, round(0.0 - z - 0.5 + 1e-9, 4)) AS sn_e
          |    FROM v WHERE idx = 1
          |  )
          |  UNION ALL
          |  SELECT conv_id, idx, t, sp_e, sn_e,
          |         (sp_e > 4.0 OR sn_e > 4.0) AS alarm,
          |         CASE WHEN sp_e > 4.0 OR sn_e > 4.0 THEN 0.0 ELSE sp_e END AS sp,
          |         CASE WHEN sp_e > 4.0 OR sn_e > 4.0 THEN 0.0 ELSE sn_e END AS sn
          |  FROM (
          |    SELECT v.conv_id, v.idx, v.t,
          |      greatest(0.0, round(r.sp + v.z - 0.5 + 1e-9, 4)) AS sp_e,
          |      greatest(0.0, round(r.sn - v.z - 0.5 + 1e-9, 4)) AS sn_e
          |    FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1
          |  )
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
          |  coalesce(min(CASE WHEN alarm THEN t END), -1) AS first_alarm_ms,
          |  max(greatest(sp_e, sn_e)) + 0.0 AS max_stat
          |FROM r GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // Holt linear-trend smoother (dyadic alpha/beta; two-state recursive-CTE
    // oracle)
    DriverQuery("ts_holt", ((s, dir) =>
      SeriesOps.holt(metrics(s, dir).withColumnRenamed("text_len", "value"),
        alpha = 0.25, beta = 0.125)
        .orderBy("conv_id", "idx")),
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx
          |  FROM metrics
          |), r AS (
          |  -- CAST: the recursive CTE takes column types from the base term;
          |  -- a bare 0.0 literal is DECIMAL(2,1) and would truncate every
          |  -- recursively computed trend to one decimal digit
          |  SELECT conv_id, idx, y, round(y + 1e-9, 4) AS l,
          |         CAST(0.0 AS DOUBLE) AS b
          |  FROM v WHERE idx = 1
          |  UNION ALL
          |  SELECT conv_id, idx, y, l,
          |         round(0.125 * (l - l_prev) + 0.875 * b_prev + 1e-9, 4) AS b
          |  FROM (
          |    SELECT v.conv_id, v.idx, v.y,
          |      round(0.25 * v.y + 0.75 * (r.l + r.b) + 1e-9, 4) AS l,
          |      r.l AS l_prev, r.b AS b_prev
          |    FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1
          |  )
          |)
          |-- `+ 0.0` normalizes IEEE negative zero (round() of a tiny
          |-- negative yields -0.0, which the driver's string-render hash
          |-- distinguishes from the engine's +0.0; -0.0 + 0.0 = +0.0)
          |SELECT conv_id, idx, y AS value, l + 0.0 AS level, b + 0.0 AS trend,
          |  round(l + b + 1e-9, 4) + 0.0 AS forecast
          |FROM r ORDER BY conv_id, idx""".stripMargin)),
    // LTTB shape-preserving downsample to 12 buckets (uniform-x variant)
    DriverQuery("ts_lttb", ((s, dir) =>
      SeriesOps.lttb(metrics(s, dir).withColumnRenamed("text_len", "value"),
        buckets = 12)
        .orderBy("conv_id", "seq")),
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |), sm AS (
          |  SELECT conv_id, idx AS seq, idx, y AS value FROM v WHERE n <= 12
          |), fr AS (
          |  SELECT conv_id, cast((idx - 2) * 10 // (n - 2) AS int) AS f,
          |    list(struct_pack(i := idx, x := cast(idx AS double), y := y)
          |         ORDER BY idx) AS pts,
          |    round(avg(idx) + 1e-9, 4) AS ax, round(avg(y) + 1e-9, 4) AS ay
          |  FROM v WHERE n > 12 AND idx >= 2 AND idx <= n - 1
          |  GROUP BY 1, 2
          |), lastp AS (
          |  SELECT conv_id, cast(n AS double) AS lx, y AS ly, n
          |  FROM v WHERE n > 12 AND idx = n
          |), firstp AS (
          |  SELECT conv_id, y AS sy FROM v WHERE n > 12 AND idx = 1
          |), fr2 AS (
          |  SELECT fr.conv_id, fr.f, fr.pts,
          |    coalesce(lead(fr.ax) OVER wf, lastp.lx) AS nx,
          |    coalesce(lead(fr.ay) OVER wf, lastp.ly) AS ny
          |  FROM fr JOIN lastp ON fr.conv_id = lastp.conv_id
          |  WINDOW wf AS (PARTITION BY fr.conv_id ORDER BY fr.f)
          |), rsel AS (
          |  SELECT conv_id, -1 AS f, 1 AS sel_idx,
          |         cast(1 AS double) AS sel_x, sy AS sel_y
          |  FROM firstp
          |  UNION ALL
          |  SELECT conv_id, f, sel_idx, cast(sel_idx AS double) AS sel_x, sel_y
          |  FROM (
          |    SELECT conv_id, f,
          |      struct_extract(chosen, 'i') AS sel_idx,
          |      struct_extract(chosen, 'y') AS sel_y
          |    FROM (
          |      SELECT conv_id, f,
          |        pts[list_position(areas, list_aggregate(areas, 'max'))] AS chosen
          |      FROM (
          |        SELECT f2.conv_id, f2.f, f2.pts,
          |          list_transform(f2.pts, p -> round(abs(
          |            (r.sel_x - f2.nx) * (struct_extract(p, 'y') - r.sel_y)
          |            - (r.sel_x - struct_extract(p, 'x')) * (f2.ny - r.sel_y))
          |            + 1e-9, 4)) AS areas
          |        FROM rsel r JOIN fr2 f2
          |          ON f2.conv_id = r.conv_id AND f2.f = r.f + 1
          |      )
          |    )
          |  )
          |), big AS (
          |  SELECT conv_id, 1 AS seq, 1 AS idx, sy AS value FROM firstp
          |  UNION ALL
          |  SELECT conv_id, f + 2 AS seq, sel_idx AS idx, sel_y AS value
          |  FROM rsel WHERE f >= 0
          |  UNION ALL
          |  SELECT conv_id, 12 AS seq, n AS idx, ly AS value FROM lastp
          |)
          |SELECT conv_id, seq, idx, value FROM sm
          |UNION ALL
          |SELECT conv_id, seq, idx, value FROM big
          |ORDER BY conv_id, seq""".stripMargin)),
    // Holt-Winters additive seasonal smoother (dyadic alpha/beta/gamma,
    // period 4; three-state recursive-CTE oracle with a rolling seasonal
    // list)
    DriverQuery("ts_holtwinters", ((s, dir) =>
      Forecast.holtWinters(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        alpha = 0.25, beta = 0.125, gamma = 0.25, period = 4)
        .orderBy("conv_id", "idx")),
      // Holt-Winters: three-state recursion; the m seasonal states travel as
      // a rolling list (head = the slot the NEXT observation consumes), so
      // each step is ring[1] in, list_append(ring[2:], s_new) out — exactly
      // the kernel's Queue. Nested subqueries order the intra-step dataflow
      // (l first, then b and s_new from l) identically to the kernel.
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |), init AS (
          |  SELECT conv_id,
          |    round(avg(y) FILTER (WHERE idx <= 4) + 1e-9, 4) AS l0
          |  FROM v GROUP BY 1 HAVING max(n) > 4
          |), sinit AS (
          |  SELECT v.conv_id,
          |    list(round(v.y - i.l0 + 1e-9, 4) ORDER BY v.idx) AS ring, i.l0
          |  FROM v JOIN init i USING (conv_id) WHERE v.idx <= 4
          |  GROUP BY v.conv_id, i.l0
          |), r AS (
          |  SELECT conv_id, 4 AS idx, cast(NULL AS double) AS y, l0 AS l,
          |    CAST(0.0 AS DOUBLE) AS b, ring,
          |    cast(NULL AS double) AS s_new, cast(NULL AS double) AS fc
          |  FROM sinit
          |  UNION ALL
          |  SELECT conv_id, idx, y, l,
          |    round(0.125 * (l - l_prev) + 0.875 * b_prev + 1e-9, 4) AS b,
          |    list_append(ring[2:], round(0.25 * (y - l) + 0.75 * s_used + 1e-9, 4)) AS ring,
          |    round(0.25 * (y - l) + 0.75 * s_used + 1e-9, 4) AS s_new,
          |    fc
          |  FROM (
          |    SELECT v.conv_id AS conv_id, v.idx AS idx, v.y AS y,
          |      round(0.25 * (v.y - r.ring[1]) + 0.75 * (r.l + r.b) + 1e-9, 4) AS l,
          |      r.l AS l_prev, r.b AS b_prev, r.ring AS ring,
          |      r.ring[1] AS s_used,
          |      round(r.l + r.b + r.ring[1] + 1e-9, 4) AS fc
          |    FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1
          |  )
          |)
          |SELECT conv_id, idx, y AS value, l + 0.0 AS level, b + 0.0 AS trend,
          |  s_new + 0.0 AS seasonal, fc + 0.0 AS forecast
          |FROM r WHERE idx >= 5 ORDER BY conv_id, idx""".stripMargin)),
    // offline single changepoint by binary segmentation (L2 mean-shift
    // cost via prefix sums — purely relational, one window pass)
    DriverQuery("ts_changepoint", ((s, dir) =>
      ChangeDetect.changepointBinseg(
        metrics(s, dir).withColumnRenamed("text_len", "value"), minSeg = 2)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, cast(row_number() OVER w AS int) AS t,
          |    sum(text_len) OVER w AS s_t,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n,
          |    sum(text_len) OVER (PARTITION BY conv_id) AS s_n
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), sc AS (
          |  SELECT conv_id, n, t, s_n,
          |    round(s_t * s_t / t + (s_n - s_t) * (s_n - s_t) / (n - t) + 1e-9, 4) AS score
          |  FROM v WHERE n >= 4 AND t >= 2 AND t <= n - 2
          |), pick AS (
          |  SELECT *, row_number() OVER (PARTITION BY conv_id
          |                               ORDER BY score DESC, t) AS rn
          |  FROM sc
          |)
          |SELECT conv_id, cast(n AS bigint) AS n_obs, t AS cp_idx, score,
          |  round(score - s_n * s_n / n + 1e-9, 4) + 0.0 AS gain
          |FROM pick WHERE rn = 1 ORDER BY conv_id""".stripMargin)),
    // Piecewise Aggregate Approximation into 10 frames (the SAX substrate
    // as its own relation)
    DriverQuery("ts_paa", ((s, dir) =>
      Downsample.paa(metrics(s, dir).withColumnRenamed("text_len", "value"),
        segments = 10)
        .orderBy("conv_id", "frame")),
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS i,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |)
          |SELECT conv_id, cast((i - 1) * 10 // n AS int) AS frame,
          |  count(*) AS n_pts, round(avg(y) + 1e-9, 4) AS value
          |FROM v GROUP BY 1, 2 ORDER BY conv_id, frame""".stripMargin)),
    // historian deadband compression: keep first/last + every |Δ|>0.5 move
    // vs the last KEPT value (store-on-change historian mode)
    // (recursive-CTE oracle carries the last-kept state)
    DriverQuery("ts_deadband", ((s, dir) =>
      Downsample.deadband(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        deviation = 0.5)
        .orderBy("conv_id", "seq")),
      // deadband: the recursion carries ONLY (seq, last_kept, kept); the
      // keep rule is first OR last OR |y - last_kept| > 0.5
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, epoch_ms(ts) AS t, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |), r AS (
          |  SELECT conv_id, idx, t, y, n, 1 AS seq, y AS last_kept, true AS kept
          |  FROM v WHERE idx = 1
          |  UNION ALL
          |  SELECT conv_id, idx, t, y, n,
          |    CASE WHEN keep THEN seq + 1 ELSE seq END AS seq,
          |    CASE WHEN keep THEN y ELSE last_kept END AS last_kept,
          |    keep AS kept
          |  FROM (
          |    SELECT v.conv_id AS conv_id, v.idx AS idx, v.t AS t, v.y AS y,
          |      v.n AS n, r.seq AS seq, r.last_kept AS last_kept,
          |      (v.idx = v.n OR abs(v.y - r.last_kept) > 0.5) AS keep
          |    FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1
          |  )
          |)
          |SELECT conv_id, seq, idx, t, y AS value, cast(n AS bigint) AS n_obs
          |FROM r WHERE kept ORDER BY conv_id, seq""".stripMargin)),
    // dominant seasonality period: argmax of the lag-1..6 sample ACF
    DriverQuery("ts_dominant_period", ((s, dir) =>
      SeriesOps.dominantPeriod(
        metrics(s, dir).withColumnRenamed("text_len", "value"), maxLag = 6)
        .orderBy("conv_id")),
      // dominant period: the per-lag quantized r is normalized (+ 0.0)
      // BEFORE the argmax ordering so a DuckDB -0.0 can never order
      // differently from the engine's BigDecimal +0.0
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    round(avg(text_len) + 1e-9, 4) AS mu
          |  FROM metrics GROUP BY 1
          |), d AS (
          |  SELECT m.conv_id, st.n_obs, m.text_len - st.mu AS dx,
          |    lag(m.text_len - st.mu, 1) OVER w AS dx1,
          |    lag(m.text_len - st.mu, 2) OVER w AS dx2,
          |    lag(m.text_len - st.mu, 3) OVER w AS dx3,
          |    lag(m.text_len - st.mu, 4) OVER w AS dx4,
          |    lag(m.text_len - st.mu, 5) OVER w AS dx5,
          |    lag(m.text_len - st.mu, 6) OVER w AS dx6
          |  FROM metrics m JOIN st USING (conv_id)
          |  WINDOW w AS (PARTITION BY m.conv_id ORDER BY m.ts, m.turn_idx)
          |), c AS (
          |  SELECT conv_id, any_value(n_obs) AS n_obs,
          |    sum(dx * dx) AS c0, sum(dx * dx1) AS c1, sum(dx * dx2) AS c2,
          |    sum(dx * dx3) AS c3, sum(dx * dx4) AS c4, sum(dx * dx5) AS c5,
          |    sum(dx * dx6) AS c6
          |  FROM d GROUP BY 1
          |), rl AS (
          |  SELECT conv_id, n_obs, u.l AS l,
          |    round(u.cl / c0 + 1e-9, 4) + 0.0 AS r
          |  FROM (
          |    SELECT *, unnest([
          |      struct_pack(l := 1, cl := c1), struct_pack(l := 2, cl := c2),
          |      struct_pack(l := 3, cl := c3), struct_pack(l := 4, cl := c4),
          |      struct_pack(l := 5, cl := c5), struct_pack(l := 6, cl := c6)
          |    ]) AS u
          |    FROM c WHERE round(c0 + 1e-9, 4) > 0 AND n_obs > 7
          |  )
          |), pick AS (
          |  SELECT *, row_number() OVER (PARTITION BY conv_id
          |                               ORDER BY r DESC, l) AS rn
          |  FROM rl
          |)
          |SELECT conv_id, n_obs, cast(l AS int) AS period, r
          |FROM pick WHERE rn = 1 ORDER BY conv_id""".stripMargin)),
    // Goh-Barabasi burstiness / Fano factor on the per-minute count
    // process (integer-exact: counts, not inter-arrival squares)
    DriverQuery("ts_burstiness", ((s, dir) =>
      SeriesOps.burstiness(metrics(s, dir))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, pm AS (
          |  SELECT conv_id, epoch_ms(ts) - epoch_ms(ts) % 60000 AS mb,
          |    count(*) AS c
          |  FROM metrics GROUP BY 1, 2
          |), agg AS (
          |  SELECT conv_id,
          |    (max(mb) - min(mb)) // 60000 + 1 AS n_buckets,
          |    cast(sum(c) AS bigint) AS n_obs,
          |    cast(sum(c * c) AS bigint) AS sc2
          |  FROM pm GROUP BY 1
          |), mo AS (
          |  SELECT conv_id, n_buckets, n_obs,
          |    cast(n_obs AS double) / n_buckets AS mu,
          |    cast(sc2 AS double) / n_buckets
          |      - (cast(n_obs AS double) / n_buckets)
          |        * (cast(n_obs AS double) / n_buckets) AS v
          |  FROM agg
          |)
          |SELECT conv_id, cast(n_buckets AS bigint) AS n_buckets, n_obs,
          |  round(v / mu + 1e-9, 4) + 0.0 AS fano,
          |  round(sqrt(greatest(v, 0.0)) / mu + 1e-9, 4) + 0.0 AS cv,
          |  round((sqrt(greatest(v, 0.0)) - mu)
          |        / (sqrt(greatest(v, 0.0)) + mu) + 1e-9, 4) + 0.0 AS b
          |FROM mo ORDER BY conv_id""".stripMargin)),
    // HyperLogLog register sketch (p=8) over turn texts — the mergeable
    // state relation itself, integer-exact cross-engine
    DriverQuery("ts_hll", ((s, dir) =>
      Summary.hllRegisters(transcripts(s, dir), "text", p = 8)
        .orderBy("register")),
      // HLL p=8: register = top 8 bits of u32(md5(text)), rho = leading
      // zeros of the low 24 bits + 1 via minimal-width bin() (identical in
      // both engines); output is the sparse register relation (the
      // mergeable sketch state), integer-exact
      (cte +
        """, h AS (
          |  SELECT CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |    cast(strpos('0123456789abcdef', substr(md5(text), cast(d AS int), 1)) - 1 AS bigint)
          |      * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) AS u32
          |  FROM transcripts WHERE text IS NOT NULL
          |), reg AS (
          |  SELECT cast(u32 // 16777216 AS int) AS register,
          |    u32 % 16777216 AS rem
          |  FROM h
          |)
          |SELECT register,
          |  cast(max(CASE WHEN rem = 0 THEN 25
          |                ELSE 24 - length(bin(rem)) + 1 END) AS int) AS rho
          |FROM reg GROUP BY 1 ORDER BY register""".stripMargin)),
    // matrix-profile top-1 discord (w=4, non-overlapping NN, raw
    // Euclidean in integer ten-thousandths) over the day series
    DriverQuery("ts_discord", ((s, dir) =>
      SeriesMining.discord(
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01"),
        w = 4)
        .orderBy("conv_id")),
      // discord: all distance math in integer ten-thousandths; the m=n-w+1
      // subsequences expand via two sequential unnests, the NN min filters
      // |i-j| >= w, argmax breaks ties to the smallest position
      (cte + metricsCte +
        """, days AS (
          |  SELECT conv_id,
          |    date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
          |    avg(text_len) AS value
          |  FROM metrics GROUP BY 1, 2
          |), sarr AS (
          |  SELECT conv_id,
          |    list(cast(round(value * 10000) AS bigint) ORDER BY idx) AS v,
          |    cast(count(*) AS int) AS n
          |  FROM days GROUP BY 1
          |), subs AS (
          |  SELECT conv_id, n, n - 3 AS m, v FROM sarr WHERE n >= 8
          |), ii AS (
          |  SELECT conv_id, n, m, v, unnest(generate_series(1, m)) AS i FROM subs
          |), pair AS (
          |  SELECT conv_id, n, v, i, unnest(generate_series(1, m)) AS j FROM ii
          |), nn AS (
          |  SELECT conv_id, n, i,
          |    min(list_sum(list_transform(generate_series(0, 3), k ->
          |      (v[i + k] - v[j + k]) * (v[i + k] - v[j + k])))) AS nn
          |  FROM pair WHERE abs(i - j) >= 4 GROUP BY 1, 2, 3
          |), best AS (
          |  SELECT *, row_number() OVER (PARTITION BY conv_id
          |                               ORDER BY nn DESC, i) AS rn
          |  FROM nn
          |)
          |SELECT conv_id, cast(n AS bigint) AS n_days, cast(i AS int) AS disc_pos,
          |  cast(nn AS bigint) AS nn_dist2
          |FROM best WHERE rn = 1 ORDER BY conv_id""".stripMargin)),
    // Theil-Sen robust trend over the calendar day series (lower-median
    // slope/intercept of all pairwise slopes, 4-dp quantized pre-sort)
    DriverQuery("ts_theilsen", ((s, dir) =>
      SeriesMining.theilSen(
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01"))
        .orderBy("conv_id")),
      // theil-sen: every pairwise slope is quantized AND -0.0-normalized
      // BEFORE the sort; the estimate is the LOWER MEDIAN (element
      // (m-1)//2, 0-based) — deterministic, no midpoint averaging
      (cte + metricsCte +
        """, days AS (
          |  SELECT conv_id,
          |    date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
          |    avg(text_len) AS value
          |  FROM metrics GROUP BY 1, 2
          |), pairs AS (
          |  SELECT a.conv_id AS conv_id,
          |    round((b.value - a.value) / (b.idx - a.idx) + 1e-9, 4) + 0.0 AS s
          |  FROM days a JOIN days b
          |    ON a.conv_id = b.conv_id AND b.idx > a.idx
          |), sl AS (
          |  SELECT conv_id, list(s ORDER BY s) AS ss,
          |    cast(count(*) AS bigint) AS m
          |  FROM pairs GROUP BY 1
          |), est AS (
          |  SELECT conv_id, m, ss[cast((m - 1) // 2 AS int) + 1] AS slope FROM sl
          |), res AS (
          |  SELECT d.conv_id AS conv_id, any_value(e.m) AS m,
          |    any_value(e.slope) AS slope,
          |    list(round(d.value - e.slope * d.idx + 1e-9, 4) + 0.0
          |         ORDER BY round(d.value - e.slope * d.idx + 1e-9, 4) + 0.0) AS rr,
          |    cast(count(*) AS bigint) AS n
          |  FROM days d JOIN est e USING (conv_id) GROUP BY 1
          |)
          |SELECT conv_id, n AS n_days, m AS n_pairs, slope,
          |  rr[cast((n - 1) // 2 AS int) + 1] AS intercept
          |FROM res WHERE n >= 2 ORDER BY conv_id""".stripMargin)),
    // max drawdown of the CENTERED cumulative metric (CUSUM-style wander).
    // Centering is INTEGER-scaled (y·n − S, all integer-valued doubles):
    // a fractional mean would make the running sum order-sensitive
    // (DuckDB's segment-tree window order ≠ Spark's sequential order);
    // the single de-scaling division happens once, at the output
    DriverQuery("ts_drawdown", ((s, dir) => {
      val m = metrics(s, dir)
      val st = m.groupBy("conv_id")
        .agg(sum("text_len").as("s_tot"), count(lit(1)).as("cnt"))
      SeriesOps.drawdown(
        m.join(st, "conv_id")
          .withColumn("value", col("text_len") * col("cnt") - col("s_tot")))
        .select(col("conv_id"), col("n_obs"),
          round(col("max_drawdown") / col("n_obs") + lit(1e-9), 4)
            .as("max_drawdown"),
          col("at_idx"))
        .orderBy("conv_id")
    }),
      // drawdown of the centered cumulative in INTEGER scale (y·n − S): the
      // running sum stays integer-valued, so DuckDB's segment-tree window
      // summation and Spark's sequential one agree exactly; one de-scaling
      // division at the output
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, sum(text_len) AS s_tot,
          |    cast(count(*) AS bigint) AS cnt
          |  FROM metrics GROUP BY 1
          |), v AS (
          |  SELECT m.conv_id,
          |    cast(row_number() OVER w AS int) AS idx,
          |    sum(m.text_len * st.cnt - st.s_tot) OVER w AS cum
          |  FROM metrics m JOIN st USING (conv_id)
          |  WINDOW w AS (PARTITION BY m.conv_id ORDER BY m.ts, m.turn_idx)
          |), dd AS (
          |  SELECT conv_id, idx,
          |    max(cum) OVER (PARTITION BY conv_id ORDER BY idx) - cum AS dd
          |  FROM v
          |), mx AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_obs, max(dd) AS maxdd
          |  FROM dd GROUP BY 1
          |)
          |SELECT d.conv_id AS conv_id, any_value(m.n_obs) AS n_obs,
          |  round(any_value(m.maxdd) / any_value(m.n_obs) + 1e-9, 4) AS max_drawdown,
          |  min(CASE WHEN d.dd = m.maxdd THEN d.idx END) AS at_idx
          |FROM dd d JOIN mx m USING (conv_id)
          |GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // role diversity per conversation: exact rational indices (Gini
    // impurity + inverse Simpson), no transcendentals
    DriverQuery("ts_role_diversity", ((s, dir) =>
      SeriesOps.roleDiversity(transcripts(s, dir))
        .orderBy("conv_id")),
      (cte +
        """, rc AS (
          |  SELECT conv_id, role, count(*) AS c FROM transcripts GROUP BY 1, 2
          |), agg AS (
          |  SELECT conv_id, cast(sum(c) AS bigint) AS n_obs,
          |    cast(count(*) AS bigint) AS n_roles,
          |    cast(sum(c * c) AS bigint) AS sc2
          |  FROM rc GROUP BY 1
          |)
          |SELECT conv_id, n_obs, n_roles,
          |  round(1.0 - cast(sc2 AS double) / (n_obs * n_obs) + 1e-9, 4) AS impurity,
          |  round(cast(n_obs * n_obs AS double) / sc2 + 1e-9, 4) AS inv_simpson
          |FROM agg ORDER BY conv_id""".stripMargin)),
    // top-3 conversations by turn count per day (WindowGroupLimit plan:
    // partial top-k before the shuffle)
    DriverQuery("ts_topk_daily", ((s, dir) =>
      Summary.topPerBucket(transcripts(s, dir),
        date_trunc("day", col("ts")), col("conv_id"), k = 3)
        .orderBy("bucket", "rank")),
      (cte +
        """, dc AS (
          |  SELECT date_trunc('day', ts) AS bucket, conv_id AS key,
          |    count(*) AS n
          |  FROM transcripts GROUP BY 1, 2
          |), rk AS (
          |  SELECT *, cast(row_number() OVER (PARTITION BY bucket
          |    ORDER BY n DESC, key) AS int) AS rank
          |  FROM dc
          |)
          |SELECT bucket, rank, key, cast(n AS bigint) AS n
          |FROM rk WHERE rank <= 3 ORDER BY bucket, rank""".stripMargin)),
    // top-1 motif (discord's mirror: the closest non-overlapping
    // subsequence pair, integer-ten-thousandths Euclidean)
    DriverQuery("ts_motif", ((s, dir) =>
      SeriesMining.motif(
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01"),
        w = 4)
        .orderBy("conv_id")),
      // motif: the same double-unnest subsequence expansion as ts_discord,
      // min over j > i+w-1 pairs, argmin ties to the smallest (i, j)
      (cte + metricsCte +
        """, days AS (
          |  SELECT conv_id,
          |    date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
          |    avg(text_len) AS value
          |  FROM metrics GROUP BY 1, 2
          |), sarr AS (
          |  SELECT conv_id,
          |    list(cast(round(value * 10000) AS bigint) ORDER BY idx) AS v,
          |    cast(count(*) AS int) AS n
          |  FROM days GROUP BY 1
          |), subs AS (
          |  SELECT conv_id, n, n - 3 AS m, v FROM sarr WHERE n >= 8
          |), ii AS (
          |  SELECT conv_id, n, m, v, unnest(generate_series(1, m)) AS i FROM subs
          |), pr AS (
          |  SELECT conv_id, n, v, i, unnest(generate_series(i + 4, m)) AS j FROM ii
          |), d AS (
          |  SELECT conv_id, n, i, j,
          |    list_sum(list_transform(generate_series(0, 3), k ->
          |      (v[i + k] - v[j + k]) * (v[i + k] - v[j + k]))) AS d2
          |  FROM pr
          |), best AS (
          |  SELECT *, row_number() OVER (PARTITION BY conv_id
          |                               ORDER BY d2, i, j) AS rn
          |  FROM d
          |)
          |SELECT conv_id, cast(n AS bigint) AS n_days, cast(i AS int) AS pos_a,
          |  cast(j AS int) AS pos_b, cast(d2 AS bigint) AS dist2
          |FROM best WHERE rn = 1 ORDER BY conv_id""".stripMargin)),
    // Mann-Kendall trend test on the EXACT RATIONAL day mean: pairwise
    // sign(s_j·c_i − s_i·c_j) — pure integer cross-multiplication, so a
    // float-summation-order tie can never flip a sign
    DriverQuery("ts_mann_kendall", ((s, dir) => {
      val days = metrics(s, dir)
        .groupBy(col("conv_id"),
          datediff(date_trunc("day", col("ts")).cast("date"),
            lit("2024-01-01").cast("date")).as("idx"))
        .agg(sum(col("text_len").cast("long")).as("s"),
          count(lit(1)).as("c"))
      SeriesMining.mannKendall(days).orderBy("conv_id")
    }),
      // mann-kendall: integer cross-multiplied day-mean comparison — no
      // float mean anywhere, so both engines agree on every sign exactly
      (cte + metricsCte +
        """, days AS (
          |  SELECT conv_id,
          |    date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
          |    cast(sum(text_len) AS bigint) AS s, cast(count(*) AS bigint) AS c
          |  FROM metrics GROUP BY 1, 2
          |), pr AS (
          |  SELECT a.conv_id AS conv_id,
          |    CASE WHEN b.s * a.c > a.s * b.c THEN 1
          |         WHEN b.s * a.c < a.s * b.c THEN -1 ELSE 0 END AS sg
          |  FROM days a JOIN days b
          |    ON a.conv_id = b.conv_id AND b.idx > a.idx
          |), ag AS (
          |  SELECT conv_id,
          |    cast(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS bigint) AS n_pos,
          |    cast(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS bigint) AS n_neg,
          |    cast(sum(CASE WHEN sg = 0 THEN 1 ELSE 0 END) AS bigint) AS n_tie
          |  FROM pr GROUP BY 1
          |), nd AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_days FROM days GROUP BY 1
          |)
          |SELECT d.conv_id AS conv_id, d.n_days AS n_days,
          |  a.n_pos AS n_pos, a.n_neg AS n_neg, a.n_tie AS n_tie,
          |  a.n_pos - a.n_neg AS s_stat,
          |  CASE WHEN a.n_pos > a.n_neg THEN 'increasing'
          |       WHEN a.n_pos < a.n_neg THEN 'decreasing'
          |       ELSE 'none' END AS direction
          |FROM nd d JOIN ag a USING (conv_id) ORDER BY conv_id""".stripMargin)),
    // longest active-day streak per conversation (gaps-and-islands)
    DriverQuery("ts_streaks", ((s, dir) =>
      SeriesOps.streaks(
        ChangeDetect.daySeries(transcripts(s, dir), "text_len", "2024-01-01"))
        .orderBy("conv_id")),
      // streaks: the classic idx − row_number() island key; longest-streak
      // start via the same first-argmax join shape as ts_drawdown
      (cte + metricsCte +
        """, days AS (
          |  SELECT DISTINCT conv_id,
          |    date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx
          |  FROM metrics
          |), isl AS (
          |  SELECT conv_id, idx,
          |    idx - cast(row_number() OVER (PARTITION BY conv_id ORDER BY idx) AS int) AS k
          |  FROM days
          |), runs AS (
          |  SELECT conv_id, k, cast(count(*) AS bigint) AS len, min(idx) AS start
          |  FROM isl GROUP BY 1, 2
          |), mx AS (
          |  SELECT conv_id, max(len) AS ml FROM runs GROUP BY 1
          |)
          |SELECT r.conv_id AS conv_id, cast(sum(r.len) AS bigint) AS n_days,
          |  cast(count(*) AS bigint) AS n_streaks,
          |  cast(any_value(m.ml) AS bigint) AS longest,
          |  cast(min(CASE WHEN r.len = m.ml THEN r.start END) AS int)
          |    AS longest_start_idx
          |FROM runs r JOIN mx m USING (conv_id)
          |GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // Spearman rank trend of turn length vs time order (doubled average
    // ranks keep every aggregate integer)
    DriverQuery("ts_spearman", ((s, dir) =>
      SeriesOps.spearmanTrend(metrics(s, dir), "text_len")
        .orderBy("conv_id")),
      // spearman: doubled average ranks (2·minrank + ties − 1) keep every
      // aggregate integer; one correctly-rounded sqrt then 4-dp + (-0.0
      // normalized)
      (cte + metricsCte +
        """, rk AS (
          |  SELECT conv_id,
          |    2 * rank() OVER (PARTITION BY conv_id ORDER BY text_len)
          |      + count(*) OVER (PARTITION BY conv_id, text_len) - 1 AS dr,
          |    2 * row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS dt
          |  FROM metrics
          |), ag AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_obs,
          |    cast(sum(dr) AS bigint) AS sx, cast(sum(dt) AS bigint) AS sy,
          |    cast(sum(dr * dr) AS bigint) AS sxx,
          |    cast(sum(dt * dt) AS bigint) AS syy,
          |    cast(sum(dr * dt) AS bigint) AS sxy
          |  FROM rk GROUP BY 1
          |)
          |SELECT conv_id, n_obs,
          |  round(cast(n_obs * sxy - sx * sy AS double) /
          |    sqrt(cast(n_obs * sxx - sx * sx AS double) *
          |         cast(n_obs * syy - sy * sy AS double)) + 1e-9, 4) + 0.0 AS rho
          |FROM ag
          |WHERE n_obs >= 3 AND n_obs * sxx - sx * sx > 0
          |  AND n_obs * syy - sy * sy > 0
          |ORDER BY conv_id""".stripMargin)),
    // order-3 ordinal-pattern histogram (Bandt-Pompe counts, strict
    // orderings, ties bucketed separately)
    DriverQuery("ts_ordinal", ((s, dir) =>
      SeriesOps.ordinalPatterns(metrics(s, dir), "text_len")
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, tri AS (
          |  SELECT conv_id, text_len AS a,
          |    lead(text_len, 1) OVER w AS b, lead(text_len, 2) OVER w AS c
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |)
          |SELECT conv_id, cast(count(*) AS bigint) AS n_triples,
          |  cast(sum(CASE WHEN a < b AND b < c THEN 1 ELSE 0 END) AS bigint) AS p123,
          |  cast(sum(CASE WHEN a < c AND c < b THEN 1 ELSE 0 END) AS bigint) AS p132,
          |  cast(sum(CASE WHEN b < a AND a < c THEN 1 ELSE 0 END) AS bigint) AS p213,
          |  cast(sum(CASE WHEN c < a AND a < b THEN 1 ELSE 0 END) AS bigint) AS p231,
          |  cast(sum(CASE WHEN b < c AND c < a THEN 1 ELSE 0 END) AS bigint) AS p312,
          |  cast(sum(CASE WHEN c < b AND b < a THEN 1 ELSE 0 END) AS bigint) AS p321,
          |  cast(sum(CASE WHEN a = b OR b = c OR a = c THEN 1 ELSE 0 END) AS bigint) AS n_tied
          |FROM tri WHERE b IS NOT NULL AND c IS NOT NULL
          |GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // corpus role-transition matrix with exact rational transition shares
    DriverQuery("ts_role_trans", ((s, dir) =>
      SeriesOps.roleTransitions(transcripts(s, dir))
        .orderBy("from_role", "to_role")),
      (cte +
        """, pr AS (
          |  SELECT role AS from_role,
          |    lead(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS to_role
          |  FROM transcripts
          |), cg AS (
          |  SELECT from_role, to_role, cast(count(*) AS bigint) AS n
          |  FROM pr WHERE to_role IS NOT NULL GROUP BY 1, 2
          |)
          |SELECT from_role, to_role, n,
          |  round(cast(n AS double) /
          |    cast(sum(n) OVER (PARTITION BY from_role) AS double) + 1e-9, 4) AS p
          |FROM cg ORDER BY from_role, to_role""".stripMargin)),
    // Gini concentration of turn volume across conversations — NO corpus-
    // wide rank window: ranks reconstructed from the bounded distinct-
    // count relation
    DriverQuery("ts_gini", ((s, dir) =>
      Summary.giniCounts(transcripts(s, dir), col("conv_id"))),
      // gini: Σ rank·x reconstructed from the grouped-by-count relation
      // (rank blocks of tied counts), doubled to stay integer end-to-end
      (cte +
        """, kc AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS c
          |  FROM transcripts GROUP BY 1
          |), g AS (
          |  SELECT c, cast(count(*) AS bigint) AS m FROM kc GROUP BY 1
          |), cum AS (
          |  SELECT c, m, cast(sum(m) OVER (ORDER BY c) - m AS bigint) AS bigM
          |  FROM g
          |), t AS (
          |  SELECT cast(sum(m) AS bigint) AS n_keys,
          |    cast(sum(c * m) AS bigint) AS total,
          |    cast(sum(c * (2 * m * bigM + m * (m + 1))) AS bigint) AS srx2
          |  FROM cum
          |)
          |SELECT n_keys, total,
          |  round(cast(srx2 - (n_keys + 1) * total AS double) /
          |        cast(n_keys * total AS double) + 1e-9, 4) AS gini
          |FROM t""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "running window over the distinct-count relation (|distinct per-key " +
        "volumes| rows, bounded by max key volume) + the one-row final reduce; " +
        "the full key relation never funnels"))),
    // user→assistant response latency per conversation (exact-ms SLA stats)
    DriverQuery("ts_latency", ((s, dir) =>
      SeriesOps.responseLatency(transcripts(s, dir), "user", "assistant")
        .orderBy("conv_id")),
      (cte +
        """, lat AS (
          |  SELECT conv_id, role,
          |    lag(role) OVER w AS prev_role,
          |    epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS d
          |  FROM transcripts
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |)
          |SELECT conv_id, count(*) AS n_pairs,
          |  round(avg(d) + 1e-9, 4) AS mean_ms,
          |  min(d) AS min_ms, max(d) AS max_ms
          |FROM lat WHERE prev_role = 'user' AND role = 'assistant'
          |GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // role-bigram turn-taking matrix per conversation
    DriverQuery("ts_turn_taking", ((s, dir) =>
      SeriesOps.turnTaking(transcripts(s, dir))
        .orderBy("conv_id", "from_role", "to_role")),
      (cte +
        """, tt AS (
          |  SELECT conv_id, role AS to_role,
          |    lag(role) OVER (PARTITION BY conv_id
          |                    ORDER BY ts, turn_idx) AS from_role
          |  FROM transcripts
          |)
          |SELECT conv_id, from_role, to_role, count(*) AS n
          |FROM tt WHERE from_role IS NOT NULL
          |GROUP BY conv_id, from_role, to_role
          |ORDER BY conv_id, from_role, to_role""".stripMargin)),
    // prominence-gated local-maximum peak detection (integer-exact)
    DriverQuery("ts_peaks", ((s, dir) =>
      SeriesOps.peaks(metrics(s, dir).withColumnRenamed("text_len", "value"),
        delta = 5.0)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, pk AS (
          |  SELECT conv_id, ts, text_len,
          |    lag(text_len) OVER w AS pv, lead(text_len) OVER w AS nv
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), fl AS (
          |  SELECT conv_id, ts, text_len,
          |    (pv IS NOT NULL AND nv IS NOT NULL AND text_len > pv
          |     AND text_len > nv AND text_len - greatest(pv, nv) >= 5.0)
          |      AS is_peak
          |  FROM pk
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  CAST(sum(CASE WHEN is_peak THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
          |  coalesce(min(CASE WHEN is_peak THEN epoch_ms(ts) END), -1)
          |    AS first_peak_ms,
          |  coalesce(max(CASE WHEN is_peak THEN text_len END), -1.0) AS max_peak
          |FROM fl GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // per-series OLS trend (slope/intercept/R²) over the observation index
    DriverQuery("ts_trend", ((s, dir) =>
      SeriesOps.olsTrend(metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, xv AS (
          |  SELECT conv_id, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS double) AS x
          |  FROM metrics
          |), ag AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
          |    sum(y * y) AS syy, sum(x * y) AS sxy
          |  FROM xv GROUP BY 1
          |), vv AS (
          |  SELECT *, n_obs * sxx - sx * sx AS vx,
          |    round(n_obs * syy - sy * sy + 1e-9, 4) AS vy,
          |    n_obs * sxy - sx * sy AS cv
          |  FROM ag
          |)
          |SELECT conv_id, n_obs,
          |  round(cv / vx + 1e-9, 4) + 0.0 AS slope,
          |  round((sy - cv / vx * sx) / n_obs + 1e-9, 4) + 0.0 AS intercept,
          |  round(cv * cv / (vx * vy) + 1e-9, 4) AS r2
          |FROM vv WHERE n_obs >= 2 AND vy > 0 ORDER BY conv_id""".stripMargin)),
    // classical additive seasonal decomposition on the hourly grid
    // (centered 2×24 MA trend → centered hour-of-day indices)
    DriverQuery("ts_decompose", ((s, dir) =>
      SeriesOps.seasonalDecompose(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        date_trunc("hour", col("ts")))
        .orderBy("conv_id", "hod")),
      (cte + metricsCte +
        """, b AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |    round(avg(text_len) + 1e-9, 4) AS v
          |  FROM metrics GROUP BY 1, 2
          |), t AS (
          |  SELECT conv_id, bucket_ts, v,
          |    count(*) OVER wc AS cnt,
          |    CASE WHEN count(*) OVER wc = 25
          |         THEN round((avg(v) OVER wa + avg(v) OVER wb) / 2 + 1e-9, 4)
          |         END AS trend
          |  FROM b
          |  WINDOW wc AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
          |         wa AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
          |         wb AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
          |), s AS (
          |  SELECT conv_id, hour(bucket_ts) AS hod, count(*) AS n_h,
          |    round(avg(v - trend) + 1e-9, 4) AS s_raw
          |  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2
          |), c AS (
          |  SELECT conv_id, round(avg(s_raw) + 1e-9, 4) AS s_mean
          |  FROM s GROUP BY 1
          |)
          |SELECT s.conv_id, s.hod, s.n_h,
          |  round(s.s_raw - c.s_mean + 1e-9, 4) + 0.0 AS s_idx
          |FROM s JOIN c ON s.conv_id = c.conv_id
          |ORDER BY s.conv_id, s.hod""".stripMargin)),
    // reset-aware counter increase (PromQL increase shape) over a planted
    // mod-100000 cumulative counter — resets are deterministic in both
    // engines because the running sum is all-integer
    DriverQuery("ts_counter_inc", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val m = metrics(s, dir)
        .withColumn("counter",
          sum(col("text_len").cast("long")).over(w) % 100000L)
      SeriesOps.counterIncrease(m, date_trunc("hour", col("ts")), "counter")
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
        """, ctr AS (
          |  SELECT conv_id, ts, turn_idx,
          |    CAST(sum(CAST(text_len AS BIGINT))
          |           OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |         % 100000 AS BIGINT) AS counter
          |  FROM metrics
          |), cc AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, counter,
          |    lag(counter) OVER w AS prev
          |  FROM ctr
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), fl AS (
          |  SELECT conv_id, bucket_ts,
          |    CASE WHEN prev IS NULL THEN 0
          |         WHEN counter >= prev THEN counter - prev
          |         ELSE counter END AS contrib,
          |    CASE WHEN prev IS NOT NULL AND counter < prev THEN 1 ELSE 0 END
          |      AS reset
          |  FROM cc
          |)
          |SELECT conv_id, bucket_ts, count(*) AS n,
          |  CAST(sum(reset) AS BIGINT) AS n_resets,
          |  CAST(sum(contrib) AS BIGINT) AS inc
          |FROM fl GROUP BY conv_id, bucket_ts
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // PromQL rate/irate pair over the planted mod-100000 counter: the
    // bucket's reset-adjusted per-second rate plus the spike-sensitive
    // instantaneous rate from the bucket's LAST consecutive pair (picked
    // by one max_by on (ts, turn_idx) — no second window pass)
    DriverQuery("ts_irate", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val m = metrics(s, dir)
        .withColumn("counter",
          sum(col("text_len").cast("long")).over(w) % 100000L)
      SeriesOps.counterRate(m, date_trunc("hour", col("ts")), "counter",
        bucketSec = 3600L)
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
        """, ctr AS (
          |  SELECT conv_id, ts, turn_idx, epoch_ms(ts) AS t,
          |    CAST(sum(CAST(text_len AS BIGINT))
          |           OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |         % 100000 AS BIGINT) AS counter
          |  FROM metrics
          |), cc AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts, turn_idx, t,
          |    counter, lag(counter) OVER w AS prev, lag(t) OVER w AS prev_t
          |  FROM ctr
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), fl AS (
          |  SELECT conv_id, bucket_ts, t, turn_idx,
          |    CASE WHEN prev IS NULL THEN 0
          |         WHEN counter >= prev THEN counter - prev
          |         ELSE counter END AS contrib,
          |    t - prev_t AS gap_ms,
          |    CASE WHEN prev IS NOT NULL AND counter < prev THEN 1 ELSE 0 END
          |      AS reset
          |  FROM cc
          |), pick AS (
          |  SELECT conv_id, bucket_ts, contrib, gap_ms,
          |    row_number() OVER (PARTITION BY conv_id, bucket_ts
          |                       ORDER BY t DESC, turn_idx DESC) AS rn
          |  FROM fl
          |), agg AS (
          |  SELECT conv_id, bucket_ts, count(*) AS n,
          |    CAST(sum(reset) AS BIGINT) AS n_resets,
          |    CAST(sum(contrib) AS BIGINT) AS inc
          |  FROM fl GROUP BY 1, 2
          |)
          |SELECT a.conv_id, a.bucket_ts, a.n, a.n_resets, a.inc,
          |  round(CAST(a.inc AS DOUBLE) / 3600 + 1e-9, 4) AS rate_per_s,
          |  CASE WHEN p.gap_ms IS NOT NULL AND p.gap_ms > 0
          |       THEN round(CAST(p.contrib AS DOUBLE) * 1000 / p.gap_ms
          |                  + 1e-9, 4)
          |       ELSE 0.0 END AS irate_per_s
          |FROM agg a
          |JOIN pick p ON p.conv_id = a.conv_id AND p.bucket_ts = a.bucket_ts
          |           AND p.rn = 1
          |ORDER BY a.conv_id, a.bucket_ts""".stripMargin),
      plan = Some(ShuffleBudget(2, "one conv window pass + one bucket agg"))),
    // per-(conv, day) heartbeat/coverage report: distinct observed minutes
    // against the 1440-minute day + longest interior silence in ms
    DriverQuery("ts_coverage", ((s, dir) =>
      SeriesOps.coverage(metrics(s, dir)).orderBy("conv_id", "day")),
      (cte + metricsCte +
        """, g AS (
          |  SELECT conv_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts,
          |    epoch_ms(ts) - lag(epoch_ms(ts))
          |      OVER (PARTITION BY conv_id, date_trunc('day', ts)
          |            ORDER BY ts, turn_idx) AS gap
          |  FROM metrics
          |)
          |SELECT conv_id, day, count(*) AS n_obs,
          |  count(DISTINCT date_trunc('minute', ts)) AS n_minutes,
          |  round(CAST(count(DISTINCT date_trunc('minute', ts)) AS DOUBLE)
          |        / 1440 + 1e-9, 4) AS coverage,
          |  coalesce(max(gap), 0) AS max_gap_ms
          |FROM g GROUP BY 1, 2 ORDER BY conv_id, day""".stripMargin)),
    // cross-correlation at lags 0..2 (text_len leads is_tool) — raw
    // integer-product sums centered by the closed form, one window pass
    DriverQuery("ts_ccf", ((s, dir) =>
      SeriesOps.ccf(Regularize.withMetrics(transcripts(s, dir)),
        "text_len", "is_tool").orderBy("conv_id")),
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS x, is_tool AS y,
          |    lag(is_tool, 1) OVER w AS y1,
          |    lag(is_tool, 2) OVER w AS y2
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), a AS (
          |  SELECT conv_id, count(*) AS n,
          |    sum(x) AS sx, sum(y) AS sy,
          |    sum(x * x) AS sxx, sum(y * y) AS syy,
          |    sum(x * y) AS sxy0,
          |    sum(CASE WHEN y1 IS NOT NULL THEN x * y1 END) AS sxy1,
          |    sum(CASE WHEN y2 IS NOT NULL THEN x * y2 END) AS sxy2,
          |    sum(CASE WHEN y1 IS NOT NULL THEN x END) AS sx1,
          |    sum(CASE WHEN y2 IS NOT NULL THEN x END) AS sx2,
          |    sum(y1) AS sy1, sum(y2) AS sy2
          |  FROM v GROUP BY 1
          |), m AS (
          |  SELECT *, round(sx / n + 1e-9, 4) AS mx,
          |    round(sy / n + 1e-9, 4) AS my
          |  FROM a
          |), f AS (
          |  SELECT *,
          |    round(sxx - n * mx * mx + 1e-9, 4) AS vx,
          |    round(syy - n * my * my + 1e-9, 4) AS vy
          |  FROM m
          |), d AS (
          |  SELECT *, sqrt(vx * vy) AS den FROM f
          |  WHERE n >= 3 AND vx > 0 AND vy > 0
          |)
          |SELECT conv_id, n AS n_obs,
          |  round((sxy0 - my * sx - mx * sy + n * mx * my) / den
          |        + 1e-9, 4) + 0.0 AS r0,
          |  round((sxy1 - my * sx1 - mx * sy1 + (n - 1) * mx * my) / den
          |        + 1e-9, 4) + 0.0 AS r1,
          |  round((sxy2 - my * sx2 - mx * sy2 + (n - 2) * mx * my) / den
          |        + 1e-9, 4) + 0.0 AS r2
          |FROM d ORDER BY conv_id""".stripMargin)),
    // Hampel MAD outlier screen over a centered ±2 window at 3 sigma
    DriverQuery("ts_hampel", ((s, dir) =>
      SeriesOps.hampel(metrics(s, dir).withColumnRenamed("text_len", "value"),
        k = 2, nsig = 3.0).orderBy("conv_id")),
      (cte + metricsCte +
        """, wv AS (
          |  SELECT conv_id, ts, text_len AS value,
          |    list_sort(list(text_len)
          |      OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
          |            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS arr
          |  -- NULL contract: Spark's collect_list drops nulls, DuckDB's
          |  -- list() keeps them; both sides filter nulls pre-window
          |  FROM metrics WHERE text_len IS NOT NULL
          |), md AS (
          |  SELECT conv_id, ts, value, arr, len(arr) AS n,
          |    (arr[(len(arr) + 1) // 2] + arr[(len(arr) + 2) // 2]) / 2 AS med
          |  FROM wv
          |), md2 AS (
          |  SELECT conv_id, ts, value, med, n,
          |    list_sort(list_transform(arr, a -> abs(a - med))) AS dv
          |  FROM md
          |), md3 AS (
          |  SELECT conv_id, ts, med,
          |    (dv[(n + 1) // 2] + dv[(n + 2) // 2]) / 2 AS mad,
          |    abs(value - med) AS dev
          |  FROM md2
          |), o AS (
          |  SELECT conv_id, ts, mad, dev,
          |    (mad > 0 AND dev > 3.0 * (1.4826 * mad)) AS is_out
          |  FROM md3
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_outliers,
          |  coalesce(min(CASE WHEN is_out THEN epoch_ms(ts) END), -1)
          |    AS first_outlier_ms,
          |  coalesce(round(max(CASE WHEN mad > 0 THEN dev / mad END)
          |                 + 1e-9, 4) + 0.0, -1.0) AS max_ratio
          |FROM o GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // Kleinberg-style two-state burst detection over inter-arrival gaps
    // (4-dp-quantized DP, replayed exactly by the recursive-CTE oracle)
    DriverQuery("ts_bursts", ((s, dir) =>
      SeriesOps.bursts(metrics(s, dir)).orderBy("conv_id")),
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, pts AS (
          |  SELECT conv_id, epoch_ms(ts) AS t,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |), mg AS (
          |  SELECT conv_id, max(n) AS n,
          |    CAST(max(t) - min(t) AS DOUBLE) / (max(n) - 1) AS mean_gap
          |  FROM pts GROUP BY conv_id HAVING max(n) >= 3
          |), gg AS (
          |  SELECT p.conv_id, p.idx - 1 AS j, p.t,
          |    round((p.t - lag(p.t) OVER (PARTITION BY p.conv_id
          |                                ORDER BY p.idx)) / m.mean_gap
          |          + 1e-9, 4) AS xh
          |  FROM pts p JOIN mg m ON p.conv_id = m.conv_id
          |  WHERE m.mean_gap > 0
          |  QUALIFY p.idx >= 2
          |), r AS (
          |  SELECT conv_id, 0 AS j, CAST(0.0 AS DOUBLE) AS d0,
          |    CAST(1.0 AS DOUBLE) AS d1, CAST(0 AS BIGINT) AS nb,
          |    CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS max_run,
          |    CAST(-1 AS BIGINT) AS first_ms, n
          |  FROM mg WHERE mean_gap > 0
          |  UNION ALL
          |  SELECT conv_id, j, n0 AS d0, n1 AS d1,
          |    nb + CASE WHEN n1 < n0 THEN 1 ELSE 0 END AS nb,
          |    CASE WHEN n1 < n0 THEN run + 1 ELSE CAST(0 AS BIGINT) END AS run,
          |    greatest(max_run,
          |      CASE WHEN n1 < n0 THEN run + 1 ELSE CAST(0 AS BIGINT) END)
          |      AS max_run,
          |    CASE WHEN n1 < n0 AND first_ms < 0 THEN t ELSE first_ms END
          |      AS first_ms,
          |    n
          |  FROM (
          |    SELECT r.conv_id, g.j, g.t, r.nb, r.run, r.max_run, r.first_ms,
          |      r.n,
          |      round(least(r.d0, r.d1) + g.xh + 1e-9, 4) AS n0,
          |      round(least(r.d0 + 1.0, r.d1)
          |            + round(round(2 * g.xh + 1e-9, 4) - 0.6931 + 1e-9, 4)
          |            + 1e-9, 4) AS n1
          |    FROM r JOIN gg g ON g.conv_id = r.conv_id AND g.j = r.j + 1
          |  )
          |)
          |SELECT conv_id, CAST(n - 1 AS BIGINT) AS n_gaps,
          |  round(least(d0, d1) + 1e-9, 4) AS total_cost,
          |  nb AS n_burst, max_run AS max_burst_run,
          |  first_ms AS first_burst_ms
          |FROM r WHERE j = n - 1 ORDER BY conv_id""".stripMargin)),
    // strict-sequence funnel user → tool → assistant with a 1-day
    // conversion window: one typed sorted fold per conversation (never a
    // per-stage self-join)
    DriverQuery("ts_funnel", ((s, dir) =>
      SeriesOps.funnel(transcripts(s, dir), Seq("user", "tool", "assistant"),
        windowMs = 86400000L)
        .orderBy("conv_id")),
      (cte +
        """, o AS (
          |  SELECT conv_id, role, epoch_ms(ts) AS t,
          |    row_number() OVER (PARTITION BY conv_id
          |                       ORDER BY ts, turn_idx) AS rn
          |  FROM transcripts
          |), s1 AS (
          |  SELECT conv_id, min(rn) AS r1 FROM o WHERE role = 'user'
          |  GROUP BY 1
          |), s2 AS (
          |  SELECT o.conv_id, min(rn) AS r2 FROM o JOIN s1 USING (conv_id)
          |  WHERE role = 'tool' AND rn > r1 GROUP BY 1
          |), s3 AS (
          |  SELECT o.conv_id, min(rn) AS r3 FROM o JOIN s2 USING (conv_id)
          |  WHERE role = 'assistant' AND rn > r2 GROUP BY 1
          |), base AS (SELECT DISTINCT conv_id FROM o)
          |SELECT b.conv_id,
          |  CAST(CASE WHEN r3 IS NOT NULL THEN 3
          |            WHEN r2 IS NOT NULL THEN 2
          |            WHEN r1 IS NOT NULL THEN 1 ELSE 0 END AS INT)
          |    AS reached,
          |  coalesce(t1.t, -1) AS t1_ms,
          |  coalesce(t2.t, -1) AS t2_ms,
          |  coalesce(t3.t, -1) AS t3_ms,
          |  CASE WHEN r3 IS NOT NULL THEN t3.t - t1.t ELSE -1 END AS span_ms,
          |  (r3 IS NOT NULL AND t3.t - t1.t BETWEEN 0 AND 86400000)
          |    AS converted
          |FROM base b
          |LEFT JOIN s1 ON s1.conv_id = b.conv_id
          |LEFT JOIN s2 ON s2.conv_id = b.conv_id
          |LEFT JOIN s3 ON s3.conv_id = b.conv_id
          |LEFT JOIN o t1 ON t1.conv_id = b.conv_id AND t1.rn = s1.r1
          |LEFT JOIN o t2 ON t2.conv_id = b.conv_id AND t2.rn = s2.r2
          |LEFT JOIN o t3 ON t3.conv_id = b.conv_id AND t3.rn = s3.r3
          |ORDER BY b.conv_id""".stripMargin)),
    // cohort retention matrix over first-active-day cohorts
    DriverQuery("ts_cohort", ((s, dir) =>
      SeriesOps.cohortRetention(metrics(s, dir))
        .orderBy("cohort_day", "age_d")),
      (cte +
        """, f AS (
          |  SELECT conv_id, min(date_trunc('day', ts)) AS cohort_day
          |  FROM transcripts GROUP BY 1
          |), a AS (
          |  SELECT DISTINCT conv_id, date_trunc('day', ts) AS day
          |  FROM transcripts
          |), cells AS (
          |  SELECT CAST(f.cohort_day AS DATE) AS cohort_day,
          |    CAST(date_diff('day', f.cohort_day, a.day) AS INT) AS age_d,
          |    count(*) AS n_active
          |  FROM a JOIN f USING (conv_id) GROUP BY 1, 2
          |)
          |SELECT cohort_day, age_d, n_active,
          |  round(CAST(n_active AS DOUBLE)
          |        / max(CASE WHEN age_d = 0 THEN n_active END)
          |            OVER (PARTITION BY cohort_day) + 1e-9, 4) AS retention
          |FROM cells ORDER BY cohort_day, age_d""".stripMargin)),
    // Prometheus/HDR-shape log2 latency histogram over inter-arrival gaps:
    // integer-exact power-of-two buckets (bit length, no floating log) +
    // conservative p50/p95/p99 upper bounds — ≤64-bucket mergeable state
    DriverQuery("ts_latency_hist", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val tsMs = GridSeries.ms(col("ts"))
      val g = metrics(s, dir)
        .withColumn("gap", tsMs - lag(tsMs, 1).over(w))
        .filter(col("gap").isNotNull)
      Summary.logHistQuantiles(g, "conv_id", "gap", Seq(0.5, 0.95, 0.99))
        .orderBy("conv_id")
    }),
      (cte + metricsCte +
        """, g AS (
          |  SELECT conv_id,
          |    epoch_ms(ts) - lag(epoch_ms(ts))
          |      OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS gap
          |  FROM metrics
          |), gg AS (
          |  SELECT conv_id, gap,
          |    CASE WHEN gap <= 0 THEN -1
          |         ELSE length(printf('%b', gap)) - 1 END AS bucket
          |  FROM g WHERE gap IS NOT NULL
          |), h AS (
          |  SELECT conv_id, bucket, count(*) AS cnt FROM gg GROUP BY 1, 2
          |), c AS (
          |  SELECT conv_id, bucket, cnt,
          |    CAST(sum(cnt) OVER (PARTITION BY conv_id ORDER BY bucket)
          |         AS BIGINT) AS cum,
          |    CAST(sum(cnt) OVER (PARTITION BY conv_id) AS BIGINT) AS n,
          |    CASE WHEN bucket < 0 THEN 0
          |         ELSE (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END AS ub
          |  FROM h
          |)
          |SELECT conv_id, n AS n_obs,
          |  min(CASE WHEN cum >= ceil(0.5 * n) THEN ub END) AS p50_ub,
          |  min(CASE WHEN cum >= ceil(0.95 * n) THEN ub END) AS p95_ub,
          |  min(CASE WHEN cum >= ceil(0.99 * n) THEN ub END) AS p99_ub
          |FROM c GROUP BY 1, 2 ORDER BY conv_id""".stripMargin)),
    // agent tool-loop screen: maximal runs of consecutive same-tool calls
    // over each conversation's tool-turn subsequence; runs ≥3 are loops
    DriverQuery("ts_tool_loops", ((s, dir) =>
      SeriesOps.toolLoops(transcripts(s, dir), minLoop = 3)
        .orderBy("conv_id")),
      (cte +
        """, tl AS (
          |  SELECT conv_id, ts, turn_idx, tool,
          |    CASE WHEN lag(tool) OVER w IS NULL
          |           OR lag(tool) OVER w <> tool THEN 1 ELSE 0 END AS chg
          |  FROM transcripts WHERE tool IS NOT NULL
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), tr AS (
          |  SELECT conv_id,
          |    cast(sum(chg) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
          |                        ROWS UNBOUNDED PRECEDING) AS bigint) AS run_id
          |  FROM tl
          |), runs AS (
          |  SELECT conv_id, run_id, cast(count(*) AS bigint) AS len
          |  FROM tr GROUP BY 1, 2
          |)
          |SELECT conv_id, cast(sum(len) AS bigint) AS n_tool_turns,
          |  cast(count(*) AS bigint) AS n_runs,
          |  cast(max(len) AS bigint) AS max_run,
          |  cast(sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS bigint) AS n_loops
          |FROM runs GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // retry-echo storms: consecutive same-role turns with equal normalized
    // payload (fixture text embeds conv:turn_idx: — fingerprint strips it)
    DriverQuery("ts_retry_echo", ((s, dir) =>
      SeriesOps.retryEcho(transcripts(s, dir),
        regexp_replace(col("text"), "^[^:]*:[^:]*:", ""))
        .orderBy("conv_id")),
      (cte +
        """, fp0 AS (
          |  SELECT conv_id, ts, turn_idx, role,
          |    regexp_replace(text, '^[^:]*:[^:]*:', '') AS fp
          |  FROM transcripts
          |), fl AS (
          |  SELECT conv_id, ts, turn_idx,
          |    CASE WHEN lag(fp) OVER w = fp AND lag(role) OVER w = role
          |         THEN 1 ELSE 0 END AS echo
          |  FROM fp0 WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), gl AS (
          |  SELECT conv_id, echo,
          |    cast(sum(1 - echo) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
          |                             ROWS UNBOUNDED PRECEDING) AS bigint) AS grp
          |  FROM fl
          |), runs AS (
          |  SELECT conv_id, grp, cast(count(*) AS bigint) AS n_g,
          |    cast(sum(echo) AS bigint) AS streak
          |  FROM gl GROUP BY 1, 2
          |)
          |SELECT conv_id, cast(sum(n_g) AS bigint) AS n_turns,
          |  cast(sum(streak) AS bigint) AS n_echoes,
          |  cast(max(streak) AS bigint) AS max_echo_run,
          |  round(cast(sum(streak) AS double) / sum(n_g) + 1e-9, 4) AS echo_share
          |FROM runs GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // per-tool response latency: exact integer moments + log2-bucket
    // histogram UB quantiles — the tool-grouped sibling of ts_latency_hist
    // (bounded tool vocab; never a per-tool exact-median sort at scale).
    // ONE raw pass: the (tool, log2 cell) census carries the moments AND
    // the histogram (the tierStateGlobalHist trick) — a moments⋈hist
    // two-branch join would scan raw twice.
    DriverQuery("ts_tool_latency", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val tsMs = GridSeries.ms(col("ts"))
      val cells = transcripts(s, dir)
        .withColumn("d", lead(tsMs, 1).over(w) - tsMs)
        .filter(col("tool").isNotNull && col("d").isNotNull)
        .groupBy(col("tool"), Summary.log2Bucket(col("d")).as("hb"))
        .agg(count(lit(1)).as("cnt"), sum("d").as("sum_d"),
          min("d").as("min_d"), max("d").as("max_d"))
      val cw = Window.partitionBy("tool").orderBy("hb")
      val tw = Window.partitionBy("tool")
      cells
        .withColumn("cum", sum("cnt").over(cw))
        .withColumn("n", sum("cnt").over(tw))
        .withColumn("sd", sum("sum_d").over(tw))
        .withColumn("ub", when(col("hb") < 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), hb + 1) - 1")))
        .groupBy(col("tool"), col("n").as("n_calls"), col("sd"))
        .agg(min("min_d").as("min_ms"), max("max_d").as("max_ms"),
          min(when(col("cum") >= ceil(lit(0.5) * col("n")), col("ub")))
            .as("p50_ub"),
          min(when(col("cum") >= ceil(lit(0.95) * col("n")), col("ub")))
            .as("p95_ub"))
        .select(col("tool"), col("n_calls"),
          round(col("sd").cast("double") / col("n_calls") + lit(1e-9), 4)
            .as("mean_ms"),
          col("min_ms"), col("max_ms"), col("p50_ub"), col("p95_ub"))
        .orderBy("tool")
    }),
      (cte +
        """, g AS (
          |  SELECT conv_id, tool,
          |    lead(epoch_ms(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |      - epoch_ms(ts) AS d
          |  FROM transcripts
          |), t AS (
          |  SELECT tool, d FROM g WHERE tool IS NOT NULL AND d IS NOT NULL
          |), h AS (
          |  SELECT tool,
          |    CASE WHEN d <= 0 THEN -1
          |         ELSE length(printf('%b', d)) - 1 END AS bucket,
          |    count(*) AS cnt
          |  FROM t GROUP BY 1, 2
          |), c AS (
          |  SELECT tool, bucket, cnt,
          |    CAST(sum(cnt) OVER (PARTITION BY tool ORDER BY bucket)
          |         AS BIGINT) AS cum,
          |    CAST(sum(cnt) OVER (PARTITION BY tool) AS BIGINT) AS n,
          |    CASE WHEN bucket < 0 THEN 0
          |         ELSE (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END AS ub
          |  FROM h
          |), q AS (
          |  SELECT tool,
          |    min(CASE WHEN cum >= ceil(0.5 * n) THEN ub END) AS p50_ub,
          |    min(CASE WHEN cum >= ceil(0.95 * n) THEN ub END) AS p95_ub
          |  FROM c GROUP BY 1
          |), m AS (
          |  SELECT tool, cast(count(*) AS bigint) AS n_calls,
          |    round(avg(cast(d AS double)) + 1e-9, 4) AS mean_ms,
          |    min(d) AS min_ms, max(d) AS max_ms
          |  FROM t GROUP BY 1
          |)
          |SELECT m.tool, m.n_calls, m.mean_ms, m.min_ms, m.max_ms,
          |  q.p50_ub, q.p95_ub
          |FROM m JOIN q USING (tool) ORDER BY tool""".stripMargin),
      plan = Some(ShuffleBudget(4, "conv window + (tool,hb) census, one raw scan"))),
    // KMV bottom-64 key sample over (conv, turn) keys: deterministic
    // mergeable uniform sample, planned as TakeOrderedAndProject (partial
    // per-partition top-k — no global sort, no RNG)
    DriverQuery("ts_bottomk", ((s, dir) =>
      Summary.bottomKSample(
        transcripts(s, dir).select(
          concat_ws(":", col("conv_id"), col("turn_idx")).as("key")),
        "key", k = 64).orderBy("rank")),
      (cte +
        s""", keys AS (
          |  SELECT DISTINCT conv_id || ':' || turn_idx AS key FROM transcripts
          |), hh AS (
          |  SELECT key, ${u32Sql("key")} AS h FROM keys
          |), bot AS (
          |  SELECT key, h FROM hh ORDER BY h, key LIMIT 64
          |)
          |SELECT key, h,
          |  CAST(row_number() OVER (ORDER BY h, key) AS INT) AS rank
          |FROM bot ORDER BY rank""".stripMargin),
      plan = Some(SinglePartitionAllowed("rank window over the k-row TakeOrdered result"))),
    // the KMV distinct estimate read off the same sketch
    DriverQuery("ts_kmv", ((s, dir) =>
      Summary.kmvDistinct(
        transcripts(s, dir).select(
          concat_ws(":", col("conv_id"), col("turn_idx")).as("key")),
        "key", k = 64)),
      (cte +
        s""", keys AS (
          |  SELECT DISTINCT conv_id || ':' || turn_idx AS key FROM transcripts
          |), hh AS (
          |  SELECT key, ${u32Sql("key")} AS h FROM keys
          |), bot AS (
          |  SELECT key, h FROM hh ORDER BY h, key LIMIT 64
          |)
          |SELECT CAST(count(*) AS BIGINT) AS n_sampled, max(h) AS h_k,
          |  CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
          |       ELSE round(63 * 4294967296.0 / max(h) + 1e-9, 4) END
          |    AS est_distinct
          |FROM bot""".stripMargin),
      plan = Some(SinglePartitionAllowed("one-row aggregate of the k-row sketch"))),
    // heartbeat/uptime: 5-minute liveness window, all-integer milliseconds
    DriverQuery("ts_heartbeat", ((s, dir) =>
      SeriesOps.heartbeat(transcripts(s, dir), windowMs = 300000L)
        .orderBy("conv_id")),
      (cte +
        """, hb AS (
          |  SELECT conv_id, epoch_ms(ts) AS t,
          |    lead(epoch_ms(ts)) OVER (PARTITION BY conv_id
          |      ORDER BY ts, turn_idx) - epoch_ms(ts) AS gap
          |  FROM transcripts
          |), ag AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_beats,
          |    cast(sum(CASE WHEN gap > 300000 THEN 1 ELSE 0 END) + 1
          |      AS bigint) AS n_segments,
          |    cast(sum(CASE WHEN gap IS NOT NULL THEN least(gap, 300000)
          |      ELSE 0 END) + 300000 AS bigint) AS live_ms,
          |    cast(max(t) - min(t) + 300000 AS bigint) AS span_ms
          |  FROM hb GROUP BY 1
          |)
          |SELECT conv_id, n_beats, n_segments, live_ms,
          |  span_ms - live_ms AS dead_ms
          |FROM ag ORDER BY conv_id""".stripMargin)),
    // top-1% concentration of turn volume — grouped-by-count
    // reconstruction, tie-break-free boundary contribution
    DriverQuery("ts_top_share", ((s, dir) =>
      Summary.topShare(transcripts(s, dir), col("conv_id"), 1, 100)),
      // top-1% volume share: the boundary count-group contributes
      // (k − keys_above)·c for ANY tie-break, so no key ordering is needed
      (cte +
        """, kc AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS c
          |  FROM transcripts GROUP BY 1
          |), g AS (
          |  SELECT c, cast(count(*) AS bigint) AS m FROM kc GROUP BY 1
          |), t AS (
          |  SELECT cast(sum(m) AS bigint) AS n_keys,
          |    cast(sum(c * m) AS bigint) AS total FROM g
          |), cum AS (
          |  SELECT c, m,
          |    cast(sum(m) OVER (ORDER BY c DESC) - m AS bigint) AS above
          |  FROM g
          |)
          |SELECT t.n_keys AS n_keys, t.total AS total,
          |  cast((t.n_keys + 99) // 100 AS bigint) AS top_k,
          |  cast(sum(greatest(0, least(m, (t.n_keys + 99) // 100 - above))
          |    * c) AS bigint) AS top_sum,
          |  round(cast(sum(greatest(0, least(m, (t.n_keys + 99) // 100
          |    - above)) * c) AS double) / t.total + 1e-9, 4) AS top_share
          |FROM cum CROSS JOIN t
          |GROUP BY 1, 2""".stripMargin),
      plan = Some(SinglePartitionAllowed("same bounded distinct-count relation as ts_gini"))),
    // Kendall tau-b with tie correction from the Mann-Kendall pair counts
    DriverQuery("ts_kendall_tau", ((s, dir) => {
      val days = metrics(s, dir)
        .groupBy(col("conv_id"),
          datediff(date_trunc("day", col("ts")).cast("date"),
            lit("2024-01-01").cast("date")).as("idx"))
        .agg(sum(col("text_len").cast("long")).as("s"),
          count(lit(1)).as("c"))
      SeriesMining.kendallTau(days).orderBy("conv_id")
    }),
      // tau-b from the MK pair counts: T_x = 0 (distinct day indices), so
      // the denominator is sqrt(n0 * (n0 - n_tie)); all-tied series excluded
      (cte + metricsCte +
        """, days AS (
          |  SELECT conv_id,
          |    date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
          |    cast(sum(text_len) AS bigint) AS s, cast(count(*) AS bigint) AS c
          |  FROM metrics GROUP BY 1, 2
          |), pr AS (
          |  SELECT a.conv_id AS conv_id,
          |    CASE WHEN b.s * a.c > a.s * b.c THEN 1
          |         WHEN b.s * a.c < a.s * b.c THEN -1 ELSE 0 END AS sg
          |  FROM days a JOIN days b
          |    ON a.conv_id = b.conv_id AND b.idx > a.idx
          |), ag AS (
          |  SELECT conv_id,
          |    cast(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS bigint) AS n_pos,
          |    cast(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS bigint) AS n_neg,
          |    cast(sum(CASE WHEN sg = 0 THEN 1 ELSE 0 END) AS bigint) AS n_tie
          |  FROM pr GROUP BY 1
          |), nd AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_days FROM days GROUP BY 1
          |)
          |SELECT d.conv_id AS conv_id, d.n_days AS n_days,
          |  a.n_pos - a.n_neg AS s_stat, a.n_tie AS n_tie,
          |  round(cast(a.n_pos - a.n_neg AS double) /
          |    sqrt(cast(a.n_pos + a.n_neg + a.n_tie AS double) *
          |         cast(a.n_pos + a.n_neg AS double)) + 1e-9, 4) + 0.0 AS tau_b
          |FROM nd d JOIN ag a USING (conv_id)
          |WHERE a.n_pos + a.n_neg > 0
          |ORDER BY conv_id""".stripMargin)),
    // corpus month-over-month growth: totals per calendar month + deltas
    // and exact-rational percent change vs the previous month (the lag
    // window runs over the BOUNDED month relation, never raw turns)
    DriverQuery("ts_mom", ((s, dir) => {
      val mo = metrics(s, dir)
        .groupBy(date_trunc("month", col("ts")).as("bucket_ts"))
        .agg(count(lit(1)).as("n"),
          sum(col("text_len").cast("long")).as("sum_len"))
      val w = Window.orderBy("bucket_ts")
      mo.withColumn("prev_n", lag("n", 1).over(w))
        .select(col("bucket_ts"), col("n"), col("sum_len"),
          (col("n") - col("prev_n")).as("delta_n"),
          (round(col("n").cast("double") / col("prev_n") * 100 - 100
            + lit(1e-9), 4) + lit(0.0)).as("pct_n"))
        .orderBy("bucket_ts")
    }),
      (cte + metricsCte +
        """, mo AS (
          |  SELECT date_trunc('month', ts) AS bucket_ts,
          |    cast(count(*) AS bigint) AS n,
          |    cast(sum(cast(text_len AS bigint)) AS bigint) AS sum_len
          |  FROM metrics GROUP BY 1
          |), lg AS (
          |  SELECT bucket_ts, n, sum_len,
          |    lag(n) OVER (ORDER BY bucket_ts) AS prev_n
          |  FROM mo
          |)
          |SELECT bucket_ts, n, sum_len, n - prev_n AS delta_n,
          |  round(cast(n AS double) / prev_n * 100 - 100 + 1e-9, 4) + 0.0
          |    AS pct_n
          |FROM lg ORDER BY bucket_ts""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "lag window over the calendar-month relation (|months| rows)"))),
    // ── feature-engineering batch (operators/Features.scala) ──
    // per-turn lag features (the reference's lagged predictor matrix,
    // api_predictors.R:14-67, in long form): lag1/lag2, leakage-free
    // trailing-3 mean, inter-turn gap — ONE conv-partitioned window
    DriverQuery("ts_lag_features", ((s, dir) =>
      Features.lagFeatures(transcripts(s, dir))
        .orderBy("conv_id", "turn_idx")),
      (cte +
        """, g AS (
          |  SELECT conv_id, turn_idx,
          |    cast(length(text) AS bigint) AS len,
          |    lag(cast(length(text) AS bigint), 1) OVER w AS lag1,
          |    lag(cast(length(text) AS bigint), 2) OVER w AS lag2,
          |    round(avg(cast(length(text) AS bigint)) OVER (
          |      PARTITION BY conv_id ORDER BY ts, turn_idx
          |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) + 1e-9, 4)
          |      AS roll3_mean,
          |    epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS gap_ms
          |  FROM transcripts
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |)
          |SELECT * FROM g ORDER BY conv_id, turn_idx""".stripMargin)),
    // rolling discrete p50/p90 over the trailing 8 turns — sorted-window
    // position contract (element at ceil(q·n)), integer-exact
    DriverQuery("ts_rolling_q", ((s, dir) =>
      Features.rollingQuantile(transcripts(s, dir), k = 8)
        .orderBy("conv_id", "turn_idx")),
      (cte +
        """, g AS (
          |  SELECT conv_id, turn_idx,
          |    list_sort(list(cast(length(text) AS bigint)) OVER (
          |      PARTITION BY conv_id ORDER BY ts, turn_idx
          |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) AS win
          |  FROM transcripts
          |)
          |SELECT conv_id, turn_idx, cast(len(win) AS bigint) AS n_win,
          |  win[cast(ceil(0.5 * len(win)) AS int)] AS p50,
          |  win[cast(ceil(0.9 * len(win)) AS int)] AS p90
          |FROM g ORDER BY conv_id, turn_idx""".stripMargin)),
    // conversation-length percentile WITHOUT a global rank window:
    // ≤64-cell log2-histogram CDF broadcast back onto the conv relation
    DriverQuery("ts_conv_pctile", ((s, dir) =>
      Features.convPercentile(transcripts(s, dir)).orderBy("conv_id")),
      (cte +
        """, convs AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_turns
          |  FROM transcripts GROUP BY 1
          |), h AS (
          |  SELECT length(printf('%b', n_turns)) - 1 AS hb, count(*) AS cnt
          |  FROM convs GROUP BY 1
          |), c AS (
          |  SELECT hb, cast(sum(cnt) OVER (ORDER BY hb) AS bigint) AS cum,
          |    cast(sum(cnt) OVER () AS bigint) AS total
          |  FROM h
          |)
          |SELECT conv_id, n_turns,
          |  round(cast(cum AS double) / total + 1e-9, 4) AS pct_ub
          |FROM convs JOIN c
          |  ON length(printf('%b', n_turns)) - 1 = c.hb
          |ORDER BY conv_id""".stripMargin),
      plan = Some(SinglePartitionAllowed("CDF window over the ≤64-row log2-bucket census"))),
    // outlier-capped per-conv means: exact global p05/p95 thresholds
    // (partition-parallel rank fetch) broadcast into the clip expression;
    // the winsorized mean is ONE fixed-operand-order float expression
    // over exact integer partial sums — hash-stable cross-engine
    DriverQuery("ts_winsorize", ((s, dir) =>
      Features.winsorize(transcripts(s, dir), 0.05, 0.95)
        .orderBy("conv_id")),
      (cte +
        """, lens AS (
          |  SELECT conv_id, cast(length(text) AS bigint) AS len
          |  FROM transcripts
          |), q AS (
          |  SELECT quantile_cont(cast(len AS double), 0.05) AS lo,
          |         quantile_cont(cast(len AS double), 0.95) AS hi
          |  FROM lens
          |), ag AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_turns,
          |    cast(sum(len) AS bigint) AS sum_len,
          |    cast(sum(CASE WHEN len < lo THEN 1 ELSE 0 END) AS bigint)
          |      AS n_lo,
          |    cast(sum(CASE WHEN len > hi THEN 1 ELSE 0 END) AS bigint)
          |      AS n_hi,
          |    cast(sum(CASE WHEN len >= lo AND len <= hi THEN len ELSE 0 END)
          |      AS bigint) AS sum_in,
          |    any_value(lo) AS lo, any_value(hi) AS hi
          |  FROM lens, q GROUP BY conv_id
          |)
          |SELECT conv_id, n_turns,
          |  round(cast(sum_len AS double) / n_turns + 1e-9, 4) AS mean_raw,
          |  round((cast(sum_in AS double) + n_lo * lo + n_hi * hi) / n_turns
          |    + 1e-9, 4) AS mean_wins,
          |  n_lo + n_hi AS n_clipped
          |FROM ag ORDER BY conv_id""".stripMargin)),
    // calendar activity profile (dow × hour) by pure epoch arithmetic —
    // no timezone/locale function in the contract; 168-bounded output
    DriverQuery("ts_dow_hour", ((s, dir) =>
      Features.dowHourProfile(transcripts(s, dir)).orderBy("dow", "hod")),
      (cte +
        """, g AS (
          |  SELECT cast((epoch_ms(ts) // 86400000 + 4) % 7 AS int) AS dow,
          |    cast((epoch_ms(ts) % 86400000) // 3600000 AS int) AS hod,
          |    conv_id, length(text) AS l
          |  FROM transcripts
          |)
          |SELECT dow, hod, cast(count(*) AS bigint) AS n_turns,
          |  cast(count(DISTINCT conv_id) AS bigint) AS n_convs,
          |  round(avg(l) + 1e-9, 4) AS mean_len
          |FROM g GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin)),
    // Ljung–Box IID test (lags 1-3) from the 4-dp quantized ACF — the
    // screening stat that says which series are worth a seasonal model
    DriverQuery("ts_ljung_box", ((s, dir) =>
      SeriesOps.ljungBox(
        metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    round(avg(text_len) + 1e-9, 4) AS mu
          |  FROM metrics GROUP BY 1
          |), dxt AS (
          |  SELECT m.conv_id, st.n_obs, m.text_len - st.mu AS dx,
          |    lag(m.text_len - st.mu, 1) OVER w AS dx1,
          |    lag(m.text_len - st.mu, 2) OVER w AS dx2,
          |    lag(m.text_len - st.mu, 3) OVER w AS dx3
          |  FROM metrics m JOIN st ON m.conv_id = st.conv_id
          |  WINDOW w AS (PARTITION BY m.conv_id ORDER BY m.ts, m.turn_idx)
          |), ag AS (
          |  SELECT conv_id, min(n_obs) AS n_obs,
          |    sum(dx * dx) AS c0, sum(dx * dx1) AS c1,
          |    sum(dx * dx2) AS c2, sum(dx * dx3) AS c3
          |  FROM dxt GROUP BY 1
          |), rr AS (
          |  SELECT conv_id, n_obs,
          |    round(c1 / c0 + 1e-9, 4) + 0.0 AS r1,
          |    round(c2 / c0 + 1e-9, 4) + 0.0 AS r2,
          |    round(c3 / c0 + 1e-9, 4) + 0.0 AS r3
          |  FROM ag WHERE round(c0 + 1e-9, 4) > 0 AND n_obs > 3
          |), qq AS (
          |  SELECT conv_id, n_obs,
          |    round(cast(n_obs AS double) * (n_obs + 2) *
          |      (r1 * r1 / (n_obs - 1) + r2 * r2 / (n_obs - 2)
          |        + r3 * r3 / (n_obs - 3)) + 1e-9, 4) AS q_stat
          |  FROM rr
          |)
          |SELECT conv_id, n_obs, q_stat,
          |  CAST(CASE WHEN q_stat > 7.8147 THEN 1 ELSE 0 END AS INT)
          |    AS reject_iid
          |FROM qq ORDER BY conv_id""".stripMargin)),
    // strength-of-seasonality scalar from the shared hourly detrend stage
    // (FPP3 F_s) — ranks which series actually carry the daily cycle
    DriverQuery("ts_seasonal_strength", ((s, dir) =>
      SeriesOps.seasonalStrength(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        date_trunc("hour", col("ts")))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, b AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |    round(avg(text_len) + 1e-9, 4) AS v
          |  FROM metrics GROUP BY 1, 2
          |), t AS (
          |  SELECT conv_id, bucket_ts,
          |    v - CASE WHEN count(*) OVER wc = 25
          |         THEN round((avg(v) OVER wa + avg(v) OVER wb) / 2 + 1e-9, 4)
          |         END AS detr
          |  FROM b
          |  WINDOW wc AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
          |         wa AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
          |         wb AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
          |), tt AS (
          |  SELECT conv_id, bucket_ts, detr FROM t WHERE detr IS NOT NULL
          |), s AS (
          |  SELECT conv_id, hour(bucket_ts) AS hod,
          |    round(avg(detr) + 1e-9, 4) AS s_raw
          |  FROM tt GROUP BY 1, 2
          |), c AS (
          |  SELECT conv_id, round(avg(s_raw) + 1e-9, 4) AS s_mean
          |  FROM s GROUP BY 1
          |), si AS (
          |  SELECT s.conv_id, s.hod,
          |    round(s.s_raw - c.s_mean + 1e-9, 4) + 0.0 AS s_idx
          |  FROM s JOIN c ON s.conv_id = c.conv_id
          |), r AS (
          |  SELECT tt.conv_id, tt.detr, tt.detr - si.s_idx AS resid
          |  FROM tt JOIN si
          |    ON tt.conv_id = si.conv_id AND hour(tt.bucket_ts) = si.hod
          |), ag AS (
          |  SELECT conv_id, count(*) AS n_b,
          |    sum(detr * detr) AS sdd, sum(detr) AS sd1,
          |    sum(resid * resid) AS srr, sum(resid) AS sr1
          |  FROM r GROUP BY 1
          |), vv AS (
          |  SELECT conv_id, n_b,
          |    sdd / n_b - (sd1 / n_b) * (sd1 / n_b) AS vd,
          |    srr / n_b - (sr1 / n_b) * (sr1 / n_b) AS vr
          |  FROM ag
          |)
          |SELECT conv_id, n_b,
          |  round(vd + 1e-9, 4) AS var_detr,
          |  round(greatest(0.0, 1.0 - vr / vd) + 1e-9, 4) AS f_seasonal
          |FROM vv WHERE round(vd + 1e-9, 4) > 0
          |ORDER BY conv_id""".stripMargin)),
    // sample entropy (m=2, integer r=30) over integer daily text-volume
    // series — regularity score, all-integer template math + one ln
    DriverQuery("ts_sampen", ((s, dir) => {
      val days = transcripts(s, dir)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("b"))
        .agg(sum(length(col("text")).cast("long")).as("v"))
        .select(col("conv_id"),
          datediff(col("b").cast("date"), lit("2024-01-01").cast("date"))
            .as("idx"), col("v"))
      SeriesMining.sampleEntropy(days, r = 30L).orderBy("conv_id")
    }),
      (cte +
        """, days AS (
          |  SELECT conv_id,
          |    datediff('day', DATE '2024-01-01',
          |      cast(date_trunc('day', ts) AS date)) AS idx,
          |    cast(sum(length(text)) AS bigint) AS v
          |  FROM transcripts GROUP BY 1, 2
          |), d AS (
          |  SELECT conv_id, v,
          |    lead(v, 1) OVER w AS v1, lead(v, 2) OVER w AS v2,
          |    row_number() OVER w - 1 AS i,
          |    count(*) OVER (PARTITION BY conv_id) AS nb
          |  FROM days
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY idx)
          |), pr AS (
          |  SELECT a.conv_id, a.nb,
          |    CASE WHEN greatest(abs(a.v - b.v), abs(a.v1 - b.v1)) <= 30
          |         THEN 1 ELSE 0 END AS mb,
          |    CASE WHEN greatest(abs(a.v - b.v), abs(a.v1 - b.v1)) <= 30
          |              AND abs(a.v2 - b.v2) <= 30
          |         THEN 1 ELSE 0 END AS ma
          |  FROM d a JOIN d b
          |    ON a.conv_id = b.conv_id AND a.i < b.i
          |   AND a.i <= a.nb - 3 AND b.i <= b.nb - 3
          |  WHERE a.nb >= 4
          |), ag AS (
          |  SELECT conv_id, cast(min(nb) AS bigint) AS n_days,
          |    cast(sum(mb) AS bigint) AS b_cnt,
          |    cast(sum(ma) AS bigint) AS a_cnt
          |  FROM pr GROUP BY 1
          |)
          |SELECT conv_id, n_days, b_cnt, a_cnt,
          |  CASE WHEN a_cnt > 0
          |       THEN round(-ln(cast(a_cnt AS double) / b_cnt) + 1e-9, 4)
          |       ELSE -1.0 END AS sampen
          |FROM ag ORDER BY conv_id""".stripMargin)),
    // week-over-week calendar anomaly: latest Monday-aligned week's
    // (dow,hour) counts z-scored against the prior-week profile; raw
    // collapses to a |weeks|·168-bounded cell relation in one agg
    DriverQuery("ts_cal_anomaly", ((s, dir) =>
      Features.calendarAnomaly(transcripts(s, dir), sigmas = 2.0,
        minWeeks = 3).orderBy("dow", "hod")),
      (cte +
        """, cc AS (
          |  SELECT cast((epoch_ms(ts) // 86400000 + 3) // 7 AS bigint)
          |      AS week,
          |    cast((epoch_ms(ts) // 86400000 + 4) % 7 AS int) AS dow,
          |    cast((epoch_ms(ts) % 86400000) // 3600000 AS int) AS hod,
          |    count(*) AS cnt
          |  FROM transcripts GROUP BY 1, 2, 3
          |), wm AS (
          |  SELECT max(week) AS wmax FROM cc
          |), prof AS (
          |  SELECT dow, hod, cast(count(*) AS bigint) AS n_weeks,
          |    round(avg(cnt) + 1e-9, 4) AS mu,
          |    round(sqrt(avg(cnt * cnt) - avg(cnt) * avg(cnt)) + 1e-9, 4)
          |      AS sd
          |  FROM cc, wm WHERE week < wmax GROUP BY 1, 2
          |  HAVING count(*) >= 3
          |     AND round(sqrt(avg(cnt * cnt) - avg(cnt) * avg(cnt))
          |           + 1e-9, 4) > 0
          |)
          |SELECT c.dow, c.hod, p.n_weeks, cast(c.cnt AS bigint) AS cnt_last,
          |  p.mu, p.sd,
          |  round((c.cnt - p.mu) / p.sd + 1e-9, 4) + 0.0 AS z,
          |  CAST(CASE WHEN abs(round((c.cnt - p.mu) / p.sd + 1e-9, 4))
          |         > 2.0 THEN 1 ELSE 0 END AS INT) AS is_anom
          |FROM cc c
          |CROSS JOIN wm
          |JOIN prof p ON c.dow = p.dow AND c.hod = p.hod
          |WHERE c.week = wm.wmax
          |ORDER BY c.dow, c.hod""".stripMargin),
      plan = Some(SinglePartitionAllowed("max-week reduce over the |weeks|·168 cell relation"))),
    // time-to-first-response per conversation: first user turn → first
    // assistant turn at-or-after it; the chat-assistant SLA metric.
    // One conv-keyed join (co-partitioned), integer milliseconds
    DriverQuery("ts_first_response", ((s, dir) => {
      val tsMs = GridSeries.ms(col("ts"))
      val t = transcripts(s, dir)
      val fu = t.filter(col("role") === "user")
        .groupBy("conv_id").agg(min(tsMs).as("u_ms"))
      val asst = t.filter(col("role") === "assistant")
        .select(col("conv_id"), tsMs.as("a_ms"))
      fu.join(asst, Seq("conv_id"), "left")
        .groupBy("conv_id")
        .agg(min("u_ms").as("first_user_ms"),
          min(when(col("a_ms") >= col("u_ms"), col("a_ms")))
            .as("first_asst_ms"))
        .select(col("conv_id"), col("first_user_ms"), col("first_asst_ms"),
          (col("first_asst_ms") - col("first_user_ms")).as("latency_ms"),
          col("first_asst_ms").isNotNull.cast("int").as("answered"))
        .orderBy("conv_id")
    }),
      (cte +
        """, fu AS (
          |  SELECT conv_id, min(epoch_ms(ts)) AS u_ms
          |  FROM transcripts WHERE role = 'user' GROUP BY 1
          |), aa AS (
          |  SELECT conv_id, epoch_ms(ts) AS a_ms
          |  FROM transcripts WHERE role = 'assistant'
          |), j AS (
          |  SELECT fu.conv_id, min(fu.u_ms) AS first_user_ms,
          |    min(CASE WHEN aa.a_ms >= fu.u_ms THEN aa.a_ms END)
          |      AS first_asst_ms
          |  FROM fu LEFT JOIN aa ON fu.conv_id = aa.conv_id
          |  GROUP BY 1
          |)
          |SELECT conv_id, first_user_ms, first_asst_ms,
          |  first_asst_ms - first_user_ms AS latency_ms,
          |  CAST(CASE WHEN first_asst_ms IS NOT NULL THEN 1 ELSE 0 END
          |    AS INT) AS answered
          |FROM j ORDER BY conv_id""".stripMargin)),
    // SRE burn-rate alert (Google SRE workbook ch.5): fraction of slow
    // inter-turn gaps (> 1 day) per hour AND per day over a 20% error
    // budget; alert when BOTH windows burn above 1× — one gap relation,
    // two aggregates, hour→day join on the bounded day relation
    DriverQuery("ts_burn_rate", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val tsMs = GridSeries.ms(col("ts"))
      val gaps = transcripts(s, dir)
        .withColumn("d", lead(tsMs, 1).over(w) - tsMs)
        .filter(col("d").isNotNull)
        .select(date_trunc("hour", col("ts")).as("h"),
          date_trunc("day", col("ts")).as("day"),
          when(col("d") > 86400000L, 1L).otherwise(0L).as("slow"))
      val byH = gaps.groupBy("h", "day")
        .agg(count(lit(1)).as("n"), sum("slow").as("n_slow"))
      val byD = gaps.groupBy("day")
        .agg(count(lit(1)).as("n_d"), sum("slow").as("n_slow_d"))
      byH.join(broadcast(byD), "day")
        .select(col("h"), col("n"), col("n_slow"),
          round(col("n_slow").cast("double") / col("n") / 0.2 + lit(1e-9), 4)
            .as("burn_h"),
          round(col("n_slow_d").cast("double") / col("n_d") / 0.2
            + lit(1e-9), 4).as("burn_d"))
        .withColumn("alert",
          (col("burn_h") > 1.0 && col("burn_d") > 1.0).cast("int"))
        .orderBy("h")
    }),
      (cte +
        """, g AS (
          |  SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS day,
          |    CASE WHEN lead(epoch_ms(ts)) OVER (
          |        PARTITION BY conv_id ORDER BY ts, turn_idx)
          |        - epoch_ms(ts) > 86400000 THEN 1 ELSE 0 END AS slow,
          |    lead(epoch_ms(ts)) OVER (
          |        PARTITION BY conv_id ORDER BY ts, turn_idx) AS nx
          |  FROM transcripts
          |), gg AS (
          |  SELECT h, day, slow FROM g WHERE nx IS NOT NULL
          |), byh AS (
          |  SELECT h, day, cast(count(*) AS bigint) AS n,
          |    cast(sum(slow) AS bigint) AS n_slow
          |  FROM gg GROUP BY 1, 2
          |), byd AS (
          |  SELECT day, cast(count(*) AS bigint) AS n_d,
          |    cast(sum(slow) AS bigint) AS n_slow_d
          |  FROM gg GROUP BY 1
          |), jj AS (
          |  SELECT byh.h, byh.n, byh.n_slow,
          |    round(cast(byh.n_slow AS double) / byh.n / 0.2 + 1e-9, 4)
          |      AS burn_h,
          |    round(cast(byd.n_slow_d AS double) / byd.n_d / 0.2 + 1e-9, 4)
          |      AS burn_d
          |  FROM byh JOIN byd ON byh.day = byd.day
          |)
          |SELECT h, n, n_slow, burn_h, burn_d,
          |  CAST(CASE WHEN burn_h > 1.0 AND burn_d > 1.0 THEN 1 ELSE 0 END
          |    AS INT) AS alert
          |FROM jj ORDER BY h""".stripMargin)),
    // ingestion-staleness monitor: per-conv last-seen age vs the corpus
    // watermark, log2-bucketed — the freshness histogram an ops dashboard
    // reads; conv relation collapses to ≤64 cells
    DriverQuery("ts_staleness", ((s, dir) => {
      val last = transcripts(s, dir).groupBy("conv_id")
        .agg(max(GridSeries.ms(col("ts"))).as("last_ms"))
      val wm = last.agg(max("last_ms").as("wm_ms"))
      last.crossJoin(broadcast(wm))
        .withColumn("stale", col("wm_ms") - col("last_ms"))
        .groupBy(Summary.log2Bucket(col("stale")).as("hb"))
        .agg(count(lit(1)).as("n_convs"),
          min("stale").as("min_ms"), max("stale").as("max_ms"))
        .orderBy("hb")
    }),
      (cte +
        """, last AS (
          |  SELECT conv_id, max(epoch_ms(ts)) AS last_ms
          |  FROM transcripts GROUP BY 1
          |), wm AS (
          |  SELECT max(last_ms) AS wm_ms FROM last
          |), st AS (
          |  SELECT wm_ms - last_ms AS stale FROM last CROSS JOIN wm
          |)
          |SELECT CASE WHEN stale <= 0 THEN -1
          |            ELSE length(printf('%b', stale)) - 1 END AS hb,
          |  cast(count(*) AS bigint) AS n_convs,
          |  min(stale) AS min_ms, max(stale) AS max_ms
          |FROM st GROUP BY 1 ORDER BY hb""".stripMargin),
      plan = Some(SinglePartitionAllowed("scalar watermark reduce over the conv-last relation"))),
    // per-tool Apdex (T = 6h, tolerating ≤ 4T): the SLA satisfaction
    // score from the same one-pass tool-latency deltas
    DriverQuery("ts_apdex", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val tsMs = GridSeries.ms(col("ts"))
      transcripts(s, dir)
        .withColumn("d", lead(tsMs, 1).over(w) - tsMs)
        .filter(col("tool").isNotNull && col("d").isNotNull)
        .groupBy("tool")
        .agg(count(lit(1)).as("n_calls"),
          sum(when(col("d") <= 21600000L, 1L).otherwise(0L)).as("n_sat"),
          sum(when(col("d") > 21600000L && col("d") <= 86400000L, 1L)
            .otherwise(0L)).as("n_tol"))
        .select(col("tool"), col("n_calls"), col("n_sat"), col("n_tol"),
          round((col("n_sat") + col("n_tol").cast("double") / 2)
            / col("n_calls") + lit(1e-9), 4).as("apdex"))
        .orderBy("tool")
    }),
      (cte +
        """, g AS (
          |  SELECT conv_id, tool,
          |    lead(epoch_ms(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |      - epoch_ms(ts) AS d
          |  FROM transcripts
          |), t AS (
          |  SELECT tool, d FROM g WHERE tool IS NOT NULL AND d IS NOT NULL
          |), ag AS (
          |  SELECT tool, cast(count(*) AS bigint) AS n_calls,
          |    cast(sum(CASE WHEN d <= 21600000 THEN 1 ELSE 0 END) AS bigint)
          |      AS n_sat,
          |    cast(sum(CASE WHEN d > 21600000 AND d <= 86400000
          |                  THEN 1 ELSE 0 END) AS bigint) AS n_tol
          |  FROM t GROUP BY 1
          |)
          |SELECT tool, n_calls, n_sat, n_tol,
          |  round((n_sat + cast(n_tol AS double) / 2) / n_calls + 1e-9, 4)
          |    AS apdex
          |FROM ag ORDER BY tool""".stripMargin)),
    // rescaled-range Hurst exponent over integer day series: integer
    // cumulative-deviation range / integer-variance sqrt per segment,
    // OLS slope over log2 sizes {4,8,16}
    DriverQuery("ts_hurst", ((s, dir) => {
      val days = transcripts(s, dir)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("b"))
        .agg(sum(length(col("text")).cast("long")).as("v"))
        .select(col("conv_id"),
          datediff(col("b").cast("date"), lit("2024-01-01").cast("date"))
            .as("idx"), col("v"))
      SeriesMining.hurst(days).orderBy("conv_id")
    }),
      (cte +
        """, days AS (
          |  SELECT conv_id,
          |    datediff('day', DATE '2024-01-01',
          |      cast(date_trunc('day', ts) AS date)) AS idx,
          |    cast(sum(length(text)) AS bigint) AS v
          |  FROM transcripts GROUP BY 1, 2
          |), nd AS (
          |  SELECT conv_id, cast(count(*) AS bigint) AS n_days
          |  FROM days GROUP BY 1
          |), b AS (
          |  SELECT conv_id, v,
          |    cast(row_number() OVER (PARTITION BY conv_id ORDER BY idx) - 1
          |      AS bigint) AS i
          |  FROM days
          |), e AS (
          |  SELECT conv_id, v, i, cast(szv AS bigint) AS sz, i // szv AS sg
          |  FROM b CROSS JOIN (VALUES (4), (8), (16)) s(szv)
          |), rr AS (
          |  SELECT conv_id, sz, sg, v,
          |    cast(row_number() OVER (
          |      PARTITION BY conv_id, sz, sg ORDER BY i) - 1 AS bigint) AS j,
          |    sum(v) OVER (PARTITION BY conv_id, sz, sg ORDER BY i) AS c,
          |    count(*) OVER (PARTITION BY conv_id, sz, sg) AS m,
          |    sum(v) OVER (PARTITION BY conv_id, sz, sg) AS ss
          |  FROM e
          |), dd AS (
          |  SELECT conv_id, sz, sg, v, ss,
          |    sz * c - (j + 1) * ss AS d
          |  FROM rr WHERE m = sz
          |), segs AS (
          |  SELECT conv_id, sz, sg,
          |    max(d) AS dmax, min(d) AS dmin, min(ss) AS s1,
          |    sum(v * v) AS svv
          |  FROM dd GROUP BY 1, 2, 3
          |), rs AS (
          |  SELECT conv_id, sz,
          |    round(cast(dmax - dmin AS double) /
          |      sqrt(cast(sz * svv - s1 * s1 AS double)) + 1e-9, 4) AS rsv
          |  FROM segs
          |  WHERE sz * svv - s1 * s1 > 0 AND dmax > dmin
          |), ms AS (
          |  SELECT conv_id, sz, round(avg(rsv) + 1e-9, 4) AS mrs
          |  FROM rs GROUP BY 1, 2 HAVING round(avg(rsv) + 1e-9, 4) > 0
          |), piv AS (
          |  SELECT conv_id,
          |    min(CASE WHEN sz = 4 THEN mrs END) AS rs4,
          |    min(CASE WHEN sz = 8 THEN mrs END) AS rs8,
          |    min(CASE WHEN sz = 16 THEN mrs END) AS rs16
          |  FROM ms GROUP BY 1
          |)
          |SELECT p.conv_id, nd.n_days, p.rs4, p.rs8, p.rs16,
          |  round((log2(p.rs16) - log2(p.rs4)) / 2 + 1e-9, 4) + 0.0 AS hurst
          |FROM piv p JOIN nd ON p.conv_id = nd.conv_id
          |WHERE p.rs4 IS NOT NULL AND p.rs8 IS NOT NULL
          |  AND p.rs16 IS NOT NULL
          |ORDER BY p.conv_id""".stripMargin)),
    // partial autocorrelation at lags 1..3 (Durbin–Levinson over the
    // quantized ACF — Box-Jenkins AR-order identification)
    DriverQuery("ts_pacf", ((s, dir) =>
      SeriesOps.pacf(metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    round(avg(text_len) + 1e-9, 4) AS mu
          |  FROM metrics GROUP BY 1
          |), dxt AS (
          |  SELECT m.conv_id, st.n_obs, m.text_len - st.mu AS dx,
          |    lag(m.text_len - st.mu, 1) OVER w AS dx1,
          |    lag(m.text_len - st.mu, 2) OVER w AS dx2,
          |    lag(m.text_len - st.mu, 3) OVER w AS dx3
          |  FROM metrics m JOIN st ON m.conv_id = st.conv_id
          |  WINDOW w AS (PARTITION BY m.conv_id ORDER BY m.ts, m.turn_idx)
          |), ag AS (
          |  SELECT conv_id, min(n_obs) AS n_obs,
          |    sum(dx * dx) AS c0, sum(dx * dx1) AS c1,
          |    sum(dx * dx2) AS c2, sum(dx * dx3) AS c3
          |  FROM dxt GROUP BY 1
          |), rr AS (
          |  SELECT conv_id, n_obs,
          |    round(c1 / c0 + 1e-9, 4) AS r1,
          |    round(c2 / c0 + 1e-9, 4) AS r2,
          |    round(c3 / c0 + 1e-9, 4) AS r3
          |  FROM ag WHERE round(c0 + 1e-9, 4) > 0
          |), d1 AS (
          |  SELECT *, round(1.0 - r1 * r1 + 1e-9, 4) AS den1 FROM rr
          |), p2t AS (
          |  SELECT *, round((r2 - r1 * r1) / den1 + 1e-9, 4) AS p22
          |  FROM d1 WHERE den1 > 0
          |), p3t AS (
          |  SELECT *, round(r1 - p22 * r1 + 1e-9, 4) AS p21 FROM p2t
          |), d3 AS (
          |  SELECT *, round(1.0 - p21 * r1 - p22 * r2 + 1e-9, 4) AS den3
          |  FROM p3t
          |)
          |SELECT conv_id, n_obs, r1 + 0.0 AS p1, p22 + 0.0 AS p2,
          |  round((r3 - p21 * r2 - p22 * r1) / den3 + 1e-9, 4) + 0.0 AS p3
          |FROM d3 WHERE den3 <> 0 ORDER BY conv_id""".stripMargin)),
    // empirical semivariogram at turn lags 1..3 (roughness profile)
    DriverQuery("ts_variogram", ((s, dir) =>
      SeriesOps.variogram(
        metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, dxt AS (
          |  SELECT conv_id,
          |    text_len - lag(text_len, 1) OVER w AS d1,
          |    text_len - lag(text_len, 2) OVER w AS d2,
          |    text_len - lag(text_len, 3) OVER w AS d3
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), ag AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    sum(d1 * d1) AS s1, count(d1) AS m1,
          |    sum(d2 * d2) AS s2, count(d2) AS m2,
          |    sum(d3 * d3) AS s3, count(d3) AS m3
          |  FROM dxt GROUP BY 1
          |)
          |SELECT conv_id, n_obs,
          |  round(s1 / (2.0 * m1) + 1e-9, 4) AS g1,
          |  round(s2 / (2.0 * m2) + 1e-9, 4) AS g2,
          |  round(s3 / (2.0 * m3) + 1e-9, 4) AS g3
          |FROM ag WHERE m3 > 0 ORDER BY conv_id""".stripMargin)),
    // Wald–Wolfowitz runs test for randomness of the inter-turn gap
    // series about its per-conv median (text_len is near-constant on this
    // corpus — the arrival process is the series with real dispersion)
    DriverQuery("ts_runs_test", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      val tsMs = GridSeries.ms(col("ts"))
      val gaps = metrics(s, dir)
        .withColumn("value", tsMs - lag(tsMs, 1).over(w))
        .filter(col("value").isNotNull)
      SeriesOps.runsTest(gaps).orderBy("conv_id")
    }),
      (cte + metricsCte +
        """, vals AS (
          |  SELECT conv_id, ts, turn_idx,
          |    epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS v
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), vv AS (
          |  SELECT * FROM vals WHERE v IS NOT NULL
          |), st AS (
          |  SELECT conv_id, count(*) AS n_all FROM vv GROUP BY 1
          |), rk AS (
          |  SELECT m.conv_id, m.v, m.ts, m.turn_idx, st.n_all,
          |    row_number() OVER (PARTITION BY m.conv_id
          |                       ORDER BY m.v) AS rn
          |  FROM vv m JOIN st ON m.conv_id = st.conv_id
          |), md AS (
          |  SELECT conv_id, v AS med, n_all FROM rk
          |  WHERE rn = floor((n_all + 1) / 2.0)
          |), sg AS (
          |  SELECT m.conv_id, md.n_all, m.ts, m.turn_idx,
          |    CASE WHEN m.v > md.med THEN 1
          |         WHEN m.v < md.med THEN -1 END AS s
          |  FROM vv m JOIN md ON m.conv_id = md.conv_id
          |), kept AS (
          |  SELECT conv_id, n_all, s,
          |    CASE WHEN lag(s, 1) OVER w IS NULL OR lag(s, 1) OVER w <> s
          |         THEN 1 ELSE 0 END AS chg
          |  FROM sg WHERE s IS NOT NULL
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), ag AS (
          |  SELECT conv_id, min(n_all) AS n_obs,
          |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          |    CAST(sum(chg) AS BIGINT) AS runs
          |  FROM kept GROUP BY 1
          |  HAVING n1 > 0 AND n2 > 0 AND n1 + n2 > 1
          |), zz AS (
          |  SELECT conv_id, n_obs, n1, n2, runs,
          |    CAST(n1 + n2 AS double) AS nn,
          |    2.0 * n1 * n2 AS t12
          |  FROM ag
          |)
          |SELECT conv_id, n_obs, n1, n2, runs,
          |  round((runs - (t12 / nn + 1.0)) /
          |        sqrt((t12 * (t12 - nn)) / (nn * nn * (nn - 1.0)))
          |        + 1e-9, 4) + 0.0 AS z
          |FROM zz
          |WHERE (t12 * (t12 - nn)) / (nn * nn * (nn - 1.0)) > 0
          |ORDER BY conv_id""".stripMargin)),
    // first-difference movement census + direction reversals (all-integer)
    DriverQuery("ts_moves", ((s, dir) =>
      SeriesOps.movementProfile(
        metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, dd AS (
          |  SELECT conv_id, ts, turn_idx,
          |    text_len - lag(text_len, 1) OVER w AS d
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), base AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
          |    CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_down,
          |    CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_flat
          |  FROM dd GROUP BY 1
          |), mv AS (
          |  SELECT conv_id, ts, turn_idx,
          |    CASE WHEN d > 0 THEN 1 ELSE -1 END AS sg
          |  FROM dd WHERE d <> 0
          |), fl AS (
          |  SELECT conv_id,
          |    CASE WHEN lag(sg, 1) OVER w IS NOT NULL
          |              AND lag(sg, 1) OVER w <> sg
          |         THEN 1 ELSE 0 END AS flip
          |  FROM mv WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), fa AS (
          |  SELECT conv_id, CAST(sum(flip) AS BIGINT) AS n_flips
          |  FROM fl GROUP BY 1
          |)
          |SELECT b.conv_id, b.n_obs, b.n_up, b.n_down, b.n_flat,
          |  coalesce(fa.n_flips, 0) AS n_flips
          |FROM base b LEFT JOIN fa ON b.conv_id = fa.conv_id
          |ORDER BY b.conv_id""".stripMargin)),
    // SRE incident ledger: gap > 24h = incident; MTTR / MTBF /
    // availability per conversation
    DriverQuery("ts_mttr", ((s, dir) =>
      SeriesOps.incidentLedger(metrics(s, dir), gapMs = 86400000L)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, dd AS (
          |  SELECT conv_id, epoch_ms(ts) AS t,
          |    epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS gap,
          |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w
          |              > 86400000
          |         THEN lag(epoch_ms(ts), 1) OVER w END AS inc_start
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), ag AS (
          |  SELECT conv_id, count(*) AS n_obs, min(t) AS t0, max(t) AS t1,
          |    CAST(sum(CASE WHEN gap > 86400000 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_inc,
          |    CAST(sum(CASE WHEN gap > 86400000 THEN gap ELSE 0 END)
          |      AS BIGINT) AS down_ms,
          |    min(inc_start) AS fs, max(inc_start) AS ls
          |  FROM dd GROUP BY 1
          |)
          |SELECT conv_id, n_obs, n_inc, down_ms,
          |  round(1.0 - CAST(down_ms AS double) / (t1 - t0) + 1e-9, 4)
          |    + 0.0 AS avail,
          |  CASE WHEN n_inc > 0
          |       THEN round(CAST(down_ms AS double) / n_inc + 1e-9, 4)
          |       ELSE -1.0 END AS mttr_ms,
          |  CASE WHEN n_inc > 1
          |       THEN round(CAST(ls - fs AS double) / (n_inc - 1)
          |                  + 1e-9, 4)
          |       ELSE -1.0 END AS mtbf_ms
          |FROM ag WHERE t1 > t0 ORDER BY conv_id""".stripMargin)),
    // day-over-day tool-volume movers: top-3 |delta| per day
    DriverQuery("ts_movers", ((s, dir) =>
      Summary.dayMovers(transcripts(s, dir).filter(col("tool").isNotNull),
        date_trunc("day", col("ts")), col("tool"), k = 3)
        .orderBy("bucket", "rank")),
      (cte +
        """, dc AS (
          |  SELECT tool AS key, date_trunc('day', ts) AS bucket,
          |    count(*) AS n
          |  FROM transcripts WHERE tool IS NOT NULL GROUP BY 1, 2
          |), dl AS (
          |  SELECT *, n - lag(n, 1) OVER (PARTITION BY key
          |                                ORDER BY bucket) AS delta
          |  FROM dc
          |), rk AS (
          |  SELECT bucket, key, n, delta,
          |    cast(row_number() OVER (PARTITION BY bucket
          |      ORDER BY abs(delta) DESC, key) AS int) AS rank
          |  FROM dl WHERE delta IS NOT NULL
          |)
          |SELECT bucket, rank, key, n, delta FROM rk WHERE rank <= 3
          |ORDER BY bucket, rank""".stripMargin)),
    // where does the latest day's volume rank in the conv's own history
    // (live-ops "is today unusual" percentile-rank screen; all-integer
    // census + one quantized division)
    DriverQuery("ts_today_rank", ((s, dir) => {
      val days = transcripts(s, dir)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(length(col("text")).cast("long")).as("tot"))
      val latest = days.groupBy("conv_id")
        .agg(count(lit(1)).as("n_days"), max("day").as("last_day"),
          max_by(col("tot"), col("day")).as("latest_tot"))
      days.join(latest, "conv_id")
        .groupBy(col("conv_id"))
        .agg(first("n_days").as("n_days"),
          first("last_day").as("last_day"),
          first("latest_tot").as("latest_tot"),
          sum(when(col("tot") <= col("latest_tot"), 1L).otherwise(0L))
            .as("rank_le"))
        .select(col("conv_id"), col("n_days"), col("last_day"),
          col("latest_tot"), col("rank_le"),
          round(col("rank_le").cast("double") / col("n_days") + lit(1e-9),
            4).as("pr"))
        .orderBy("conv_id")
    }),
      (cte +
        """, days AS (
          |  SELECT conv_id, date_trunc('day', ts) AS day,
          |    CAST(sum(length(text)) AS BIGINT) AS tot
          |  FROM transcripts GROUP BY 1, 2
          |), lt AS (
          |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_days,
          |    max(day) AS last_day, arg_max(tot, day) AS latest_tot
          |  FROM days GROUP BY 1
          |)
          |SELECT d.conv_id, min(lt.n_days) AS n_days,
          |  min(lt.last_day) AS last_day, min(lt.latest_tot) AS latest_tot,
          |  CAST(sum(CASE WHEN d.tot <= lt.latest_tot THEN 1 ELSE 0 END)
          |    AS BIGINT) AS rank_le,
          |  round(CAST(sum(CASE WHEN d.tot <= lt.latest_tot
          |                      THEN 1 ELSE 0 END) AS double)
          |        / min(lt.n_days) + 1e-9, 4) AS pr
          |FROM days d JOIN lt ON d.conv_id = lt.conv_id
          |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // interval-overlap concurrency: active/started/ended sessions per hour
    DriverQuery("ts_concurrency", ((s, dir) =>
      Intervals.concurrency(transcripts(s, dir), gapMs = 1800000L)
        .orderBy("bucket_ts")),
      (cte + sessionsCte +
        """, spans AS (
          |  SELECT date_trunc('hour', make_timestamp(start_ms * 1000)) AS b0,
          |    date_trunc('hour', make_timestamp(end_ms * 1000)) AS b1
          |  FROM sess
          |), bx AS (
          |  SELECT unnest(generate_series(b0, b1, interval 1 hour))
          |    AS bucket_ts, b0, b1
          |  FROM spans
          |)
          |SELECT bucket_ts, count(*) AS active,
          |  CAST(sum(CASE WHEN bucket_ts = b0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS started,
          |  CAST(sum(CASE WHEN bucket_ts = b1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS ended
          |FROM bx GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Haar multiresolution energy over each series' first 8 turns, with
    // the exact Parseval certificate column
    DriverQuery("ts_haar", ((s, dir) =>
      SeriesOps.haarEnergy(metrics(s, dir), valueCol = "text_len")
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, f8 AS (
          |  SELECT conv_id, rn, text_len AS v FROM (
          |    SELECT conv_id, text_len,
          |      row_number() OVER (PARTITION BY conv_id
          |                         ORDER BY ts, turn_idx) AS rn
          |    FROM metrics) WHERE rn <= 8
          |), pv AS (
          |  SELECT conv_id,
          |    sum(CASE WHEN rn = 1 THEN v END) AS s0,
          |    sum(CASE WHEN rn = 2 THEN v END) AS s1,
          |    sum(CASE WHEN rn = 3 THEN v END) AS s2,
          |    sum(CASE WHEN rn = 4 THEN v END) AS s3,
          |    sum(CASE WHEN rn = 5 THEN v END) AS s4,
          |    sum(CASE WHEN rn = 6 THEN v END) AS s5,
          |    sum(CASE WHEN rn = 7 THEN v END) AS s6,
          |    sum(CASE WHEN rn = 8 THEN v END) AS s7
          |  FROM f8 GROUP BY 1 HAVING count(*) = 8
          |), l1 AS (
          |  SELECT conv_id, s0, s1, s2, s3, s4, s5, s6, s7,
          |    s0 + s1 AS a10, s2 + s3 AS a11, s4 + s5 AS a12, s6 + s7 AS a13,
          |    s0 - s1 AS d10, s2 - s3 AS d11, s4 - s5 AS d12, s6 - s7 AS d13
          |  FROM pv
          |), l2 AS (
          |  SELECT *, a10 + a11 AS a20, a12 + a13 AS a21,
          |    a10 - a11 AS d20, a12 - a13 AS d21
          |  FROM l1
          |)
          |SELECT conv_id,
          |  (a20 + a21) * (a20 + a21) / 8 AS ea,
          |  (a20 - a21) * (a20 - a21) / 8 AS e3,
          |  (d20 * d20 + d21 * d21) / 4 AS e2,
          |  (d10 * d10 + d11 * d11 + d12 * d12 + d13 * d13) / 2 AS e1,
          |  s0*s0 + s1*s1 + s2*s2 + s3*s3 + s4*s4 + s5*s5 + s6*s6 + s7*s7
          |    AS total_sq
          |FROM l2 ORDER BY conv_id""".stripMargin)),
    // lag-1 Granger screen: does user verbosity drive assistant verbosity
    DriverQuery("ts_granger", ((s, dir) =>
      SeriesOps.grangerScreen(transcripts(s, dir))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, pu AS (
          |  SELECT conv_id, ts, turn_idx, role, text_len,
          |    last_value(CASE WHEN role = 'user' THEN text_len END
          |               IGNORE NULLS)
          |      OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS prev_user
          |  FROM metrics
          |), arows AS (
          |  SELECT conv_id, text_len AS y,
          |    lag(text_len) OVER (PARTITION BY conv_id
          |                        ORDER BY ts, turn_idx) AS u,
          |    prev_user AS x
          |  FROM pu WHERE role = 'assistant'
          |), pr AS (
          |  SELECT * FROM arows WHERE u IS NOT NULL AND x IS NOT NULL
          |), m AS (
          |  SELECT conv_id, CAST(count(*) AS DOUBLE) AS n,
          |    sum(y) AS sy, sum(u) AS su, sum(x) AS sx,
          |    sum(y * y) AS syy0, sum(u * u) AS suu0, sum(x * x) AS sxx0,
          |    sum(u * y) AS suy0, sum(x * y) AS sxy0, sum(u * x) AS sux0
          |  FROM pr GROUP BY 1
          |), c AS (
          |  SELECT conv_id, CAST(n AS BIGINT) AS n_pairs,
          |    syy0 - sy * sy / n AS vyy, suu0 - su * su / n AS vuu,
          |    sxx0 - sx * sx / n AS vxx, suy0 - su * sy / n AS vuy,
          |    sxy0 - sx * sy / n AS vxy, sux0 - su * sx / n AS vux
          |  FROM m
          |), d AS (
          |  SELECT *, vuu * vxx - vux * vux AS det FROM c
          |  WHERE n_pairs >= 8 AND vuu > 0
          |), e AS (
          |  SELECT *, (vxy * vuu - vuy * vux) / det AS xc,
          |    (vuy * vxx - vxy * vux) / det AS bc
          |  FROM d WHERE det > 0
          |), f AS (
          |  SELECT *, vyy - bc * vuy - xc * vxy AS rssf,
          |    vyy - vuy * vuy / vuu AS rssr
          |  FROM e
          |)
          |SELECT conv_id, n_pairs,
          |  round(xc + 1e-9, 4) + 0.0 AS x_coef,
          |  round((rssr - rssf) * (n_pairs - 3) / rssf + 1e-9, 4) + 0.0
          |    AS f_stat,
          |  round((rssr - rssf) / rssr + 1e-9, 4) + 0.0 AS r2_gain
          |FROM f WHERE rssf > 0 AND rssr > 0
          |ORDER BY conv_id""".stripMargin)),
    // Dickey–Fuller unit-root screen: mean-reverting vs random-walk
    // verbosity, closed-form from six integer partial sums
    DriverQuery("ts_adf", ((s, dir) =>
      SeriesOps.adfScreen(
        metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      // closed-form DF regression from integer partial sums; beta/t_stat are
      // signed -> -0.0-normalized; the stationary flag compares the
      // UNQUANTIZED t in both engines (identical operand order)
      (cte + metricsCte +
        """, xv AS (
          |  SELECT conv_id, text_len AS y, lag(text_len) OVER w AS x
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), p AS (
          |  SELECT conv_id, y - x AS d, x FROM xv WHERE x IS NOT NULL
          |), ag AS (
          |  SELECT conv_id, CAST(count(*) AS DOUBLE) AS n,
          |    sum(x) AS sx, sum(d) AS sd, sum(x * x) AS sxx,
          |    sum(x * d) AS sxd, sum(d * d) AS sdd
          |  FROM p GROUP BY 1
          |), m AS (
          |  SELECT conv_id, n, sxx - sx * sx / n AS vx,
          |    sxd - sx * sd / n AS cxd, sdd - sd * sd / n AS vd
          |  FROM ag
          |), b AS (
          |  SELECT conv_id, n, vx, cxd / vx AS beta,
          |    vd - (cxd / vx) * cxd AS sse
          |  FROM m WHERE n >= 8 AND vx > 0
          |)
          |SELECT conv_id, CAST(n AS BIGINT) AS n_pairs,
          |  round(beta + 1e-9, 4) + 0.0 AS beta,
          |  round(beta / sqrt(sse / ((n - 2) * vx)) + 1e-9, 4) + 0.0 AS t_stat,
          |  beta / sqrt(sse / ((n - 2) * vx)) < -2.86 AS stationary
          |FROM b WHERE sse > 0 ORDER BY conv_id""".stripMargin)),
    // Croston intermittent-demand forecast over per-day tool-call counts
    // (sparse demand: most days see zero calls for most conversations)
    DriverQuery("ts_croston", ((s, dir) =>
      Forecast.croston(
        transcripts(s, dir).filter(col("tool").isNotNull)
          .groupBy(col("conv_id"),
            floor(GridSeries.ms(col("ts")) / lit(86400000L))
              .cast("long").as("period_idx"))
          .agg(count(lit(1)).cast("double").as("qty")),
        alpha = 0.25)
        .orderBy("conv_id", "i")),
      // Croston two-state SES replay over the nonzero demand relation;
      // z/p are smoothed positives (tau >= 1, qty >= 1) but z-p style
      // signed values never appear, so only rate carries the +0.0 belt
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, dem AS (
          |  SELECT conv_id,
          |    CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS period_idx,
          |    CAST(count(*) AS DOUBLE) AS qty
          |  FROM transcripts WHERE tool IS NOT NULL GROUP BY 1, 2
          |), v AS (
          |  SELECT conv_id, period_idx, qty,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY period_idx) AS int) AS i
          |  FROM dem
          |), r AS (
          |  SELECT conv_id, i, period_idx, qty, cast(NULL AS BIGINT) AS tau,
          |    round(qty + 1e-9, 4) AS z, CAST(1.0 AS DOUBLE) AS p
          |  FROM v WHERE i = 1
          |  UNION ALL
          |  SELECT v.conv_id, v.i, v.period_idx, v.qty,
          |    v.period_idx - r.period_idx AS tau,
          |    round(0.25 * v.qty + 0.75 * r.z + 1e-9, 4) AS z,
          |    round(0.25 * (v.period_idx - r.period_idx) + 0.75 * r.p
          |      + 1e-9, 4) AS p
          |  FROM r JOIN v ON v.conv_id = r.conv_id AND v.i = r.i + 1
          |)
          |SELECT conv_id, i, period_idx, qty, tau,
          |  z + 0.0 AS z_smooth, p + 0.0 AS p_smooth,
          |  round(z / p + 1e-9, 4) + 0.0 AS rate
          |FROM r ORDER BY conv_id, i""".stripMargin)),
    // day-of-week effect one-way ANOVA per series (F + eta-squared)
    DriverQuery("ts_dow_anova", ((s, dir) =>
      SeriesOps.dowAnova(
        metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      // weekday ANOVA: per-group sums are integer; the <=7-term float sum
      // sgg is order-safe through the r4 guard (the ts_hurst precedent)
      (cte + metricsCte +
        """, g AS (
          |  SELECT conv_id,
          |    CAST((CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) + 4)
          |      % 7 AS INT) AS dow,
          |    text_len AS v
          |  FROM metrics
          |), pg AS (
          |  SELECT conv_id, dow, CAST(count(*) AS DOUBLE) AS ng,
          |    sum(v) AS sg, sum(v * v) AS sqg
          |  FROM g GROUP BY 1, 2
          |), ag AS (
          |  SELECT conv_id, sum(ng) AS n, CAST(count(*) AS DOUBLE) AS k,
          |    sum(sg) AS s, sum(sqg) AS sq, sum(sg * sg / ng) AS sgg
          |  FROM pg GROUP BY 1
          |), st AS (
          |  SELECT conv_id, n, k, sgg - s * s / n AS ssb, sq - sgg AS ssw
          |  FROM ag
          |)
          |SELECT conv_id, CAST(n AS BIGINT) AS n_obs,
          |  CAST(k AS BIGINT) AS k_groups,
          |  round((ssb / (k - 1)) / (ssw / (n - k)) + 1e-9, 4) + 0.0 AS f_stat,
          |  round(ssb / (ssb + ssw) + 1e-9, 4) + 0.0 AS eta_sq
          |FROM st WHERE k >= 2 AND n > k AND ssw > 0
          |ORDER BY conv_id""".stripMargin)),
    // theta-method forecaster (M3 winner): OLS theta-0 line + SES over the
    // theta-2 line, equal-weight one-step combination
    DriverQuery("ts_theta", ((s, dir) =>
      Forecast.theta(metrics(s, dir).withColumnRenamed("text_len", "value"),
        alpha = 0.25)
        .orderBy("conv_id", "idx")),
      // theta: quantized OLS (a4, b4) from exact integer sums, then the
      // SES-over-theta2 recursion replayed step-exactly; all three derived
      // columns are signed -> +0.0 normalizers
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |), ols AS (
          |  SELECT conv_id, any_value(n) AS n,
          |    sum(CAST(idx - 1 AS DOUBLE)) AS sx, sum(y) AS sy,
          |    sum(CAST(idx - 1 AS DOUBLE) * (idx - 1)) AS sxx,
          |    sum((idx - 1) * y) AS sxy
          |  FROM v GROUP BY 1 HAVING any_value(n) >= 8
          |), ab AS (
          |  SELECT conv_id, n, sx, sy,
          |    round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 4)
          |      AS b4
          |  FROM ols
          |), ab2 AS (
          |  SELECT conv_id,
          |    round((sy - b4 * sx) / n + 1e-9, 4) AS a4, b4
          |  FROM ab
          |), r AS (
          |  SELECT v.conv_id, v.idx, v.y,
          |    round(2 * v.y - (t.a4 + t.b4 * (v.idx - 1)) + 1e-9, 4) AS d,
          |    round(2 * v.y - (t.a4 + t.b4 * (v.idx - 1)) + 1e-9, 4) AS s,
          |    t.a4 AS a4, t.b4 AS b4
          |  FROM v JOIN ab2 t ON v.conv_id = t.conv_id WHERE v.idx = 1
          |  UNION ALL
          |  SELECT v.conv_id, v.idx, v.y,
          |    round(2 * v.y - (r.a4 + r.b4 * (v.idx - 1)) + 1e-9, 4) AS d,
          |    round(0.25 * round(2 * v.y - (r.a4 + r.b4 * (v.idx - 1))
          |        + 1e-9, 4) + 0.75 * r.s + 1e-9, 4) AS s,
          |    r.a4, r.b4
          |  FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1
          |)
          |SELECT conv_id, idx, y AS value, d + 0.0 AS theta2, s + 0.0 AS ses,
          |  round(0.5 * (s + (a4 + b4 * idx)) + 1e-9, 4) + 0.0 AS forecast
          |FROM r ORDER BY conv_id, idx""".stripMargin)),
    // SMA golden/death-cross screen (fast 5 vs slow 20, integer
    // cross-multiplied state — a float mean can never flip a crossing)
    DriverQuery("ts_sma_cross", ((s, dir) =>
      SeriesOps.smaCross(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        fast = 5, slow = 20)
        .orderBy("conv_id")),
      // SMA cross: trailing-window integer sums, state compared by integer
      // cross-multiplication; all-integer output, no rounding contract
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, ts, text_len AS y,
          |    row_number() OVER (PARTITION BY conv_id
          |                       ORDER BY ts, turn_idx) AS rn,
          |    sum(text_len) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
          |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sf,
          |    sum(text_len) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
          |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ss
          |  FROM metrics
          |), st AS (
          |  SELECT conv_id, ts, rn, sf * 20 > ss * 5 AS state
          |  FROM v WHERE rn >= 20
          |), fl AS (
          |  SELECT conv_id, ts, state,
          |    lag(state) OVER (PARTITION BY conv_id ORDER BY rn) AS prev
          |  FROM st
          |)
          |SELECT conv_id, count(*) AS n_obs,
          |  CAST(sum(CASE WHEN prev IS NOT NULL AND NOT prev AND state
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_golden,
          |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev AND NOT state
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_death,
          |  coalesce(min(CASE WHEN prev IS NOT NULL AND NOT prev AND state
          |    THEN epoch_ms(ts) END), -1) AS first_golden_ms
          |FROM fl GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // AR(2) one-step backcast via Yule-Walker from the quantized ACF,
    // with skill vs the lag-1 naive baseline (centi-quantized errors)
    DriverQuery("ts_ar2", ((s, dir) =>
      Forecast.ar2Forecast(
        metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      // Yule-Walker phis off the shared quantized-ACF chain; errors
      // centi-quantized before squaring so the sums are exact integers;
      // phi/skill are signed -> +0.0 normalizers
      (cte + metricsCte +
        """, st AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    round(avg(text_len) + 1e-9, 4) AS mu
          |  FROM metrics GROUP BY 1
          |), dxt AS (
          |  SELECT m.conv_id, st.n_obs, m.text_len - st.mu AS dx,
          |    lag(m.text_len - st.mu, 1) OVER w AS dx1,
          |    lag(m.text_len - st.mu, 2) OVER w AS dx2,
          |    lag(m.text_len - st.mu, 3) OVER w AS dx3
          |  FROM metrics m JOIN st ON m.conv_id = st.conv_id
          |  WINDOW w AS (PARTITION BY m.conv_id ORDER BY m.ts, m.turn_idx)
          |), ag AS (
          |  SELECT conv_id, min(n_obs) AS n_obs,
          |    sum(dx * dx) AS c0, sum(dx * dx1) AS c1,
          |    sum(dx * dx2) AS c2, sum(dx * dx3) AS c3
          |  FROM dxt GROUP BY 1
          |), rr AS (
          |  SELECT conv_id, n_obs,
          |    round(c1 / c0 + 1e-9, 4) AS r1,
          |    round(c2 / c0 + 1e-9, 4) AS r2
          |  FROM ag WHERE round(c0 + 1e-9, 4) > 0
          |), phd AS (
          |  SELECT conv_id, r1, r2,
          |    round(1.0 - r1 * r1 + 1e-9, 4) AS den
          |  FROM rr
          |), ph2 AS (
          |  SELECT conv_id,
          |    round((r2 - r1 * r1) / den + 1e-9, 4) AS phi2,
          |    round(r1 * (1.0 - r2) / den + 1e-9, 4) AS phi1
          |  FROM phd WHERE den > 0
          |), pts AS (
          |  SELECT m.conv_id, m.text_len AS y, st.mu, p.phi1, p.phi2,
          |    lag(m.text_len, 1) OVER w AS y1,
          |    lag(m.text_len, 2) OVER w AS y2
          |  FROM metrics m JOIN st ON m.conv_id = st.conv_id
          |  JOIN ph2 p ON m.conv_id = p.conv_id
          |  WINDOW w AS (PARTITION BY m.conv_id ORDER BY m.ts, m.turn_idx)
          |), er AS (
          |  SELECT conv_id, phi1, phi2,
          |    CAST(round((y - (mu + phi1 * (y1 - mu) + phi2 * (y2 - mu)))
          |      * 100) AS BIGINT) AS e_c,
          |    CAST(round((y - y1) * 100) AS BIGINT) AS en_c
          |  FROM pts WHERE y1 IS NOT NULL AND y2 IS NOT NULL
          |), agg AS (
          |  SELECT conv_id, count(*) AS n_pts,
          |    any_value(phi1) AS phi1, any_value(phi2) AS phi2,
          |    CAST(sum(e_c * e_c) AS BIGINT) AS se2,
          |    CAST(sum(en_c * en_c) AS BIGINT) AS sn2
          |  FROM er GROUP BY 1
          |)
          |SELECT conv_id, n_pts, phi1 + 0.0 AS phi1, phi2 + 0.0 AS phi2,
          |  round(sqrt(se2 / (10000.0 * n_pts)) + 1e-9, 4) AS rmse_ar2,
          |  round(sqrt(sn2 / (10000.0 * n_pts)) + 1e-9, 4) AS rmse_naive,
          |  CASE WHEN sn2 > 0
          |       THEN round(1.0 - sqrt(se2 / sn2) + 1e-9, 4) + 0.0
          |  END AS skill
          |FROM agg ORDER BY conv_id""".stripMargin)),
    // token-bucket rate-limiter replay: 2-burst, 1-request-per-2-hours
    // sustained (all-integer micro-token state machine; tight enough that
    // the fixture's bursty conversations actually throttle)
    DriverQuery("ts_rate_limit", ((s, dir) =>
      SeriesOps.tokenBucket(transcripts(s, dir), capacityMicro = 14400000L,
        ratePerMsMicro = 1L, costMicro = 7200000L)
        .orderBy("conv_id")),
      // all-integer token-bucket state machine: refill (t-t_prev)·1 micro/ms,
      // min with capacity, subtract cost on allow — recursion replay
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, v AS (
          |  SELECT conv_id, epoch_ms(ts) AS t,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS i
          |  FROM transcripts
          |), r AS (
          |  SELECT conv_id, i, t,
          |    CAST(14400000 - 7200000 AS BIGINT) AS tokens,
          |    1 AS allowed, CAST(NULL AS BIGINT) AS den_t
          |  FROM v WHERE i = 1
          |  UNION ALL
          |  SELECT conv_id, i, t,
          |    CASE WHEN refilled >= 7200000 THEN refilled - 7200000
          |         ELSE refilled END AS tokens,
          |    CASE WHEN refilled >= 7200000 THEN 1 ELSE 0 END AS allowed,
          |    CASE WHEN refilled < 7200000 THEN t END AS den_t
          |  FROM (
          |    SELECT x.conv_id AS conv_id, x.i AS i, x.t AS t,
          |      least(CAST(14400000 AS BIGINT),
          |            r.tokens + (x.t - r.t)) AS refilled
          |    FROM r JOIN v x ON x.conv_id = r.conv_id AND x.i = r.i + 1
          |  )
          |)
          |SELECT conv_id, count(*) AS n_events,
          |  CAST(sum(allowed) AS BIGINT) AS n_allowed,
          |  CAST(sum(1 - allowed) AS BIGINT) AS n_denied,
          |  coalesce(min(den_t), -1) AS first_denied_ms
          |FROM r GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // EWMA control chart (Roberts 1959): mean+variance EWMAs, squared
    // breach comparison (no sqrt in the contract)
    DriverQuery("ts_ewma_chart", ((s, dir) =>
      SeriesOps.ewmaChart(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        alpha = 0.25, k = 3.0)
        .orderBy("conv_id")),
      // EWMA chart recursion: v-update reads the PREVIOUS m (matching the
      // kernel's update order); breach on the squared comparison with the
      // shared k^2 = 9.0 literal
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y, epoch_ms(ts) AS t,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS i
          |  FROM metrics
          |), r AS (
          |  SELECT conv_id, i, t, y AS m, CAST(0.0 AS DOUBLE) AS v2,
          |    0 AS breach, CAST(NULL AS BIGINT) AS b_t
          |  FROM v WHERE i = 1
          |  UNION ALL
          |  SELECT x.conv_id, x.i, x.t,
          |    round(0.25 * x.y + 0.75 * r.m + 1e-9, 4) AS m,
          |    round(0.25 * (x.y - r.m) * (x.y - r.m) + 0.75 * r.v2
          |      + 1e-9, 4) AS v2,
          |    CASE WHEN r.v2 > 0 AND (x.y - r.m) * (x.y - r.m) > 9.0 * r.v2
          |         THEN 1 ELSE 0 END AS breach,
          |    CASE WHEN r.v2 > 0 AND (x.y - r.m) * (x.y - r.m) > 9.0 * r.v2
          |         THEN x.t END AS b_t
          |  FROM r JOIN v x ON x.conv_id = r.conv_id AND x.i = r.i + 1
          |), agg AS (
          |  SELECT conv_id, count(*) AS n_obs,
          |    CAST(sum(breach) AS BIGINT) AS n_breach,
          |    coalesce(min(b_t), -1) AS first_breach_ms, max(i) AS mi
          |  FROM r GROUP BY 1
          |)
          |SELECT a.conv_id, a.n_obs, a.n_breach, a.first_breach_ms,
          |  l.m + 0.0 AS m_final, l.v2 + 0.0 AS v_final
          |FROM agg a JOIN r l ON l.conv_id = a.conv_id AND l.i = a.mi
          |ORDER BY a.conv_id""".stripMargin)),
    // context-window budget profile per conversation: prefix-sum of
    // text_len vs an 8192-char budget (turns that fit, first overflow)
    DriverQuery("ts_context_budget", ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
      metrics(s, dir)
        .withColumn("idx", row_number().over(w))
        .withColumn("cum",
          sum("text_len").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"),
          sum("text_len").cast("long").as("total_chars"),
          sum(when(col("cum") <= 8192, 1L).otherwise(0L))
            .as("turns_within_budget"),
          coalesce(min(when(col("cum") > 8192, col("idx"))).cast("long"),
            lit(-1L)).as("first_overflow_idx"))
        .orderBy("conv_id")
    }),
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len,
          |    row_number() OVER w AS idx,
          |    sum(text_len) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS cum
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |)
          |SELECT conv_id, count(*) AS n_turns,
          |  CAST(sum(text_len) AS BIGINT) AS total_chars,
          |  CAST(sum(CASE WHEN cum <= 8192 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS turns_within_budget,
          |  coalesce(CAST(min(CASE WHEN cum > 8192 THEN idx END) AS BIGINT),
          |    -1) AS first_overflow_idx
          |FROM v GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // hopping-window rollup (1h window / 15m hop): each turn explodes
    // into its 4 windows; two-phase partial agg keyed (window, conv)
    // first so exact n_convs never count-distincts a hot window
    DriverQuery("ts_sliding_agg", ((s, dir) =>
      Sliding.slidingAgg(metrics(s, dir)).orderBy("window_start")),
      // hopping windows: hop cell k0 -> windows k0-3..k0 via unnest; the
      // (window, conv) partial makes n_convs a plain count
      (cte + metricsCte +
        """, pts AS (
          |  SELECT conv_id, epoch_ms(ts) // 900000 AS k0,
          |    CAST(text_len AS BIGINT) AS v
          |  FROM metrics
          |), ex AS (
          |  SELECT conv_id, v, unnest(generate_series(k0 - 3, k0)) AS k
          |  FROM pts
          |), pc AS (
          |  SELECT k, conv_id, count(*) AS n, sum(v) AS s
          |  FROM ex GROUP BY 1, 2
          |)
          |SELECT make_timestamp(k * 900000 * 1000) AS window_start,
          |  make_timestamp((k * 900000 + 3600000) * 1000) AS window_end,
          |  CAST(sum(n) AS BIGINT) AS n_turns,
          |  CAST(sum(s) AS BIGINT) AS total_len,
          |  CAST(count(*) AS BIGINT) AS n_convs
          |FROM pc GROUP BY k ORDER BY 1""".stripMargin)),
    // trailing-8-turn OLS slope per turn (PromQL deriv on a row basis):
    // four integer window sums, one float division at the boundary
    DriverQuery("ts_rolling_slope", ((s, dir) =>
      Sliding.rollingSlope(metrics(s, dir)).orderBy("conv_id", "idx")),
      // trailing-8 OLS slope from four integer window sums; slope is signed
      // -> +0.0 normalizer
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, CAST(text_len AS BIGINT) AS y,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS bigint) AS i
          |  FROM metrics
          |), s AS (
          |  SELECT conv_id, i, y,
          |    count(*) OVER w AS n,
          |    sum(y) OVER w AS sy, sum(i) OVER w AS si,
          |    sum(i * y) OVER w AS siy, sum(i * i) OVER w AS sii
          |  FROM v
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY i
          |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
          |)
          |SELECT conv_id, i AS idx, y AS value,
          |  round(CAST(8 * siy - si * sy AS DOUBLE)
          |        / CAST(8 * sii - si * si AS DOUBLE) + 1e-9, 4) + 0.0
          |    AS slope
          |FROM s WHERE n = 8 ORDER BY conv_id, idx""".stripMargin)),
    // sliding 24h distinct-conversation estimate per hour from hour-keyed
    // HLL registers: raw read once, slide = register-wise RANGE max
    DriverQuery("ts_hll_sliding", ((s, dir) =>
      Sliding.hllSliding(transcripts(s, dir)).orderBy("hour_ts")),
      // hour-keyed HLL registers (the ts_hll u32 replay keyed by hour on
      // md5(conv_id)) -> dense hour x register grid -> register-wise
      // trailing RANGE max -> exact integer 2^(25-rho) sums per hour
      (cte +
        s""", hh AS (
          |  SELECT epoch_ms(ts) // 3600000 AS hr,
          |    CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |      cast(strpos('0123456789abcdef', substr(md5(conv_id), cast(d AS int), 1)) - 1 AS bigint)
          |        * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) AS u32
          |  FROM transcripts
          |), reg AS (
          |  SELECT hr, cast(u32 // 16777216 AS int) AS register,
          |    u32 % 16777216 AS rem
          |  FROM hh
          |), rg AS (
          |  SELECT hr, register,
          |    cast(max(CASE WHEN rem = 0 THEN 25
          |                  ELSE 24 - length(bin(rem)) + 1 END) AS int) AS rho
          |  FROM reg GROUP BY 1, 2
          |), hours AS (SELECT DISTINCT hr FROM rg
          |), grid AS (
          |  SELECT hr, unnest(generate_series(0, 255)) AS register FROM hours
          |), j AS (
          |  SELECT g.hr, g.register, rg.rho
          |  FROM grid g LEFT JOIN rg ON g.hr = rg.hr AND g.register = rg.register
          |), sl AS (
          |  SELECT hr, register,
          |    max(rho) OVER (PARTITION BY register ORDER BY hr
          |                   RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS rho_w
          |  FROM j
          |)
          |SELECT make_timestamp(hr * 3600000 * 1000) AS hour_ts,
          |  CAST(sum(CASE WHEN rho_w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS v_zero,
          |  CAST(sum(CAST(1 AS BIGINT) << (25 - coalesce(rho_w, 0))) AS BIGINT)
          |    AS s_scaled,
          |  round($hllSlideC
          |    / CAST(sum(CAST(1 AS BIGINT) << (25 - coalesce(rho_w, 0))) AS DOUBLE)
          |    + 1e-9, 4) AS est
          |FROM sl GROUP BY hr ORDER BY 1""".stripMargin)),
    // Kaplan-Meier conversation-lifetime survival curve (24h right-censor
    // horizon at the corpus watermark; per-step 4-dp quantized product)
    DriverQuery("ts_km", ((s, dir) =>
      Evaluation.kaplanMeier(transcripts(s, dir), censorMs = 86400000L)
        .orderBy("t_h")),
      // Kaplan-Meier: conv lifetimes in hours, 24h right-censor horizon at
      // the corpus watermark; per-step 4-dp product replayed recursively
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, convs AS (
          |  SELECT conv_id, min(epoch_ms(ts)) AS first_ms,
          |    max(epoch_ms(ts)) AS last_ms
          |  FROM transcripts GROUP BY 1
          |), wmk AS (SELECT max(last_ms) AS wm FROM convs),
          |durs AS (
          |  SELECT CAST(floor((last_ms - first_ms) / 3600000) AS BIGINT)
          |      AS t_h,
          |    (last_ms > wm - 86400000) AS censored
          |  FROM convs CROSS JOIN wmk
          |), byt AS (
          |  SELECT t_h, CAST(count(*) AS BIGINT) AS m,
          |    CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
          |      AS d
          |  FROM durs GROUP BY 1
          |), ev AS (
          |  SELECT t_h, CAST(sum(m) OVER (ORDER BY t_h DESC) AS BIGINT)
          |      AS n_risk, d
          |  FROM byt
          |), evf AS (
          |  SELECT t_h, n_risk, d,
          |    CAST(row_number() OVER (ORDER BY t_h) AS INT) AS i
          |  FROM ev WHERE d > 0
          |), r AS (
          |  SELECT i, t_h, n_risk, d,
          |    round(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)
          |          + 1e-9, 4) AS s
          |  FROM evf WHERE i = 1
          |  UNION ALL
          |  SELECT v.i, v.t_h, v.n_risk, v.d,
          |    round(r.s * (CAST(v.n_risk - v.d AS DOUBLE)
          |                 / CAST(v.n_risk AS DOUBLE)) + 1e-9, 4)
          |  FROM r JOIN evf v ON v.i = r.i + 1
          |)
          |SELECT t_h, n_risk, d AS d_events, s AS surv
          |FROM r ORDER BY t_h""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "scalar watermark over the conv-last relation (the ts_staleness shape) " +
        "+ desc cumsum over the ≤|distinct duration hours| event-time relation"))),
    // PageRank over the weighted tool-transition digraph (10 quantized
    // power-iteration steps, damping 0.85, dangling mass redistributed)
    DriverQuery("ts_pagerank", ((s, dir) =>
      Graph.pageRank(SeriesOps.toolTransitions(transcripts(s, dir)))
        .orderBy("tool")),
      pagerankSql,
      plan = Some(SinglePartitionAllowed("|tools|-bounded rank/dangling relations per step"))),
    // Markov entropy rate of the tool chain — how predictable the next
    // tool call is; quantized-ln integer cross-multiplication
    DriverQuery("ts_entropy_rate", ((s, dir) =>
      Graph.entropyRate(SeriesOps.toolTransitions(transcripts(s, dir)))),
      // Markov entropy rate of the tool chain: per-edge ln quantized to
      // integer ten-thousandths before the exact weighted sum
      (cte + toolTransCte +
        """, er AS (
          |  SELECT from_tool, n,
          |    CAST(sum(n) OVER (PARTITION BY from_tool) AS BIGINT) AS out_n
          |  FROM cg
          |), eq AS (
          |  SELECT from_tool, n, out_n,
          |    CAST(round(ln(CAST(out_n AS DOUBLE) / n) * 10000.0) AS BIGINT)
          |      AS lq
          |  FROM er
          |)
          |SELECT n_transitions, n_states, n_edges,
          |  round(CAST(hsum AS DOUBLE) / (n_transitions * 10000.0) + 1e-9, 4)
          |    AS entropy_rate
          |FROM (
          |  SELECT CAST(sum(n) AS BIGINT) AS n_transitions,
          |    CAST(count(DISTINCT from_tool) AS BIGINT) AS n_states,
          |    CAST(count(*) AS BIGINT) AS n_edges,
          |    CAST(sum(n * lq) AS BIGINT) AS hsum
          |  FROM eq)""".stripMargin),
      plan = Some(SinglePartitionAllowed("one-row reduce over the |tools|² matrix"))),
    // exact 1-D Wasserstein distance between weekday and weekend
    // per-(conv, day) turn-count distributions
    DriverQuery("ts_wasserstein", ((s, dir) => {
      val cells = transcripts(s, dir)
        .groupBy(col("conv_id"),
          floor(GridSeries.ms(col("ts")) / lit(86400000L))
            .cast("long").as("day"))
        .agg(count(lit(1)).as("n_turns"))
      Summary.wasserstein1(
        cells.withColumn("is_weekday",
          !pmod(col("day") + 4, lit(7)).isin(0, 6)),
        "n_turns", "is_weekday")
    }),
      // exact 1-D Wasserstein: integer CDF cross-multiplication, one final
      // division (weekday vs weekend per-(conv, day) turn counts)
      (cte +
        """, cells AS (
          |  SELECT conv_id,
          |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day,
          |    CAST(count(*) AS BIGINT) AS n_turns
          |  FROM transcripts GROUP BY 1, 2
          |), cw AS (
          |  SELECT n_turns AS v,
          |    CASE WHEN NOT (CAST((day + 4) % 7 AS INT) IN (0, 6))
          |         THEN 1 ELSE 0 END AS in_a
          |  FROM cells
          |), census AS (
          |  SELECT v, CAST(sum(in_a) AS BIGINT) AS na,
          |    CAST(count(*) - sum(in_a) AS BIGINT) AS nb
          |  FROM cw GROUP BY 1
          |), walk AS (
          |  SELECT v, na, nb,
          |    CAST(sum(na) OVER (ORDER BY v) AS BIGINT) AS cum_a,
          |    CAST(sum(nb) OVER (ORDER BY v) AS BIGINT) AS cum_b,
          |    COALESCE(lead(v) OVER (ORDER BY v) - v, 0) AS dx,
          |    CAST(sum(na) OVER () AS BIGINT) AS tot_a,
          |    CAST(sum(nb) OVER () AS BIGINT) AS tot_b
          |  FROM census
          |)
          |SELECT n_a, n_b, support,
          |  round(CAST(num AS DOUBLE) / (n_a * n_b) + 1e-9, 4) AS w1
          |FROM (
          |  SELECT max(tot_a) AS n_a, max(tot_b) AS n_b,
          |    CAST(count(*) AS BIGINT) AS support,
          |    CAST(sum(abs(cum_a * tot_b - cum_b * tot_a) * dx) AS BIGINT)
          |      AS num
          |  FROM walk)""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "CDF walk over the |distinct values| census + one-row total"))),
    // time-decayed tool leaderboard: step-wise weekly halving weights
    // (pure integer), top-10 by decayed mass
    DriverQuery("ts_decay_topk", ((s, dir) =>
      Summary.decayedTopK(
        transcripts(s, dir).filter(col("tool").isNotNull), "tool", "ts", 10)
        .withColumnRenamed("key", "tool")),
      // step-wise weekly-halving decayed leaderboard: weights are pure
      // integer (10^4 >> weeks), decayed mass an exact BIGINT sum
      (cte +
        """, census AS (
          |  SELECT tool AS key,
          |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM transcripts WHERE tool IS NOT NULL GROUP BY 1, 2
          |), wtd AS (
          |  SELECT key, n,
          |    CAST(floor((max(day) OVER () - day) / 7) AS INT) AS age_w
          |  FROM census
          |), w2 AS (
          |  SELECT key, n,
          |    CASE WHEN age_w >= 14 THEN 0
          |         ELSE 10000 // (1 << age_w) END AS wq
          |  FROM wtd
          |)
          |SELECT key AS tool, CAST(sum(n) AS BIGINT) AS n_total,
          |  round(CAST(sum(n * wq) AS BIGINT) / 10000.0, 4) AS decayed
          |FROM w2 GROUP BY 1
          |ORDER BY decayed DESC, tool LIMIT 10""".stripMargin),
      plan = Some(SinglePartitionAllowed("max-day scalar over the (tool, day) census"))),
    // role×tool contingency grade: mutual information, chi-square
    // (zero cells included), Cramér's V — one bounded-grid pass
    DriverQuery("ts_contingency", ((s, dir) =>
      Contingency.roleToolStats(transcripts(s, dir))),
      // role×tool contingency: MI (occupied cells) + chi-square (all cells,
      // zero cells carry e) + Cramér's V — quantized per-cell terms
      (cte +
        """, cl2 AS (
          |  SELECT role, COALESCE(tool, 'none') AS tool FROM transcripts
          |), cells AS (
          |  SELECT role, tool, CAST(count(*) AS BIGINT) AS o
          |  FROM cl2 GROUP BY 1, 2
          |), rws AS (
          |  SELECT role, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
          |), cls AS (
          |  SELECT tool, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
          |), tt AS (
          |  SELECT CAST(sum(o) AS BIGINT) AS nn,
          |    CAST(count(DISTINCT role) AS BIGINT) AS nr,
          |    CAST(count(DISTINCT tool) AS BIGINT) AS nc
          |  FROM cells
          |), grid AS (
          |  SELECT rws.role, cls.tool, rws.r, cls.c, tt.nn, tt.nr, tt.nc,
          |    COALESCE(cells.o, 0) AS o,
          |    CAST(rws.r AS DOUBLE) * cls.c / tt.nn AS e
          |  FROM rws CROSS JOIN cls CROSS JOIN tt
          |  LEFT JOIN cells ON cells.role = rws.role AND cells.tool = cls.tool
          |), gq AS (
          |  SELECT nn, nr, nc,
          |    CASE WHEN o > 0 THEN o * CAST(round(
          |        ln(CAST(o AS DOUBLE) * nn / (CAST(r AS DOUBLE) * c))
          |        * 10000.0) AS BIGINT)
          |      ELSE 0 END AS miq,
          |    CAST(floor((o - e) * (o - e) / e * 10000.0 + 0.5) AS BIGINT)
          |      AS chq
          |  FROM grid
          |)
          |SELECT nn AS n, nr AS n_roles, nc AS n_tools,
          |  round(CAST(msum AS DOUBLE) / (nn * 10000.0) + 1e-9, 4) AS mi,
          |  round(csum / 10000.0 + 1e-9, 4) AS chi2,
          |  round(sqrt(CAST(csum AS DOUBLE)
          |        / (10000.0 * nn * least(nr - 1, nc - 1))) + 1e-9, 4)
          |    AS cramers_v
          |FROM (
          |  SELECT nn, nr, nc, CAST(sum(miq) AS BIGINT) AS msum,
          |    CAST(sum(chq) AS BIGINT) AS csum
          |  FROM gq GROUP BY 1, 2, 3)""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "one-row totals + final reduce over the |roles|·|tools| grid"))),
    // tool co-occurrence association rules at the conversation grain
    // (support / both confidences / lift over distinct-tool baskets)
    DriverQuery("ts_tool_assoc", ((s, dir) =>
      Contingency.toolAssocRules(transcripts(s, dir))
        .orderBy("tool_a", "tool_b")),
      // tool association rules over per-conv distinct-tool baskets
      (cte +
        """, bt AS (
          |  SELECT DISTINCT conv_id, tool FROM transcripts
          |  WHERE tool IS NOT NULL
          |), nx AS (
          |  SELECT tool, CAST(count(*) AS BIGINT) AS n_t FROM bt GROUP BY 1
          |), nbk AS (
          |  SELECT CAST(count(DISTINCT conv_id) AS BIGINT) AS n_baskets
          |  FROM bt
          |), pr AS (
          |  SELECT a.tool AS tool_a, b.tool AS tool_b,
          |    CAST(count(*) AS BIGINT) AS n_xy
          |  FROM bt a JOIN bt b
          |    ON a.conv_id = b.conv_id AND a.tool < b.tool
          |  GROUP BY 1, 2
          |)
          |SELECT tool_a, tool_b, n_xy, na.n_t AS n_a, nbb.n_t AS n_b,
          |  nbk.n_baskets,
          |  round(CAST(n_xy AS DOUBLE) / nbk.n_baskets + 1e-9, 4) AS support,
          |  round(CAST(n_xy AS DOUBLE) / na.n_t + 1e-9, 4) AS conf_ab,
          |  round(CAST(n_xy AS DOUBLE) / nbb.n_t + 1e-9, 4) AS conf_ba,
          |  round(CAST(n_xy AS DOUBLE) * nbk.n_baskets
          |        / (CAST(na.n_t AS DOUBLE) * nbb.n_t) + 1e-9, 4) AS lift
          |FROM pr JOIN nx na ON na.tool = pr.tool_a
          |        JOIN nx nbb ON nbb.tool = pr.tool_b
          |        CROSS JOIN nbk
          |ORDER BY tool_a, tool_b""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "one-row basket-count scalar over the per-conv distinct-tool relation"))),
    // seasonal-residual 3-sigma anomaly screen (decomposition recombined;
    // exact integer cross-multiplied variance test)
    DriverQuery("ts_stl_anomaly", ((s, dir) =>
      SeriesOps.stlAnomaly(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        date_trunc("hour", col("ts")))
        .orderBy("conv_id")),
      // seasonal-residual 3-sigma anomalies: the ts_decompose chain
      // recombined, residuals in integer ten-thousandths, exact HUGEINT
      // cross-multiplied variance test
      (cte + metricsCte +
        """, b AS (
          |  SELECT conv_id, date_trunc('hour', ts) AS bucket_ts,
          |    round(avg(text_len) + 1e-9, 4) AS v
          |  FROM metrics GROUP BY 1, 2
          |), t AS (
          |  SELECT conv_id, bucket_ts, v,
          |    CASE WHEN count(*) OVER wc = 25
          |         THEN round((avg(v) OVER wa + avg(v) OVER wb) / 2 + 1e-9, 4)
          |         END AS trend
          |  FROM b
          |  WINDOW wc AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
          |         wa AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
          |         wb AS (PARTITION BY conv_id ORDER BY bucket_ts
          |                ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
          |), s AS (
          |  SELECT conv_id, hour(bucket_ts) AS hod,
          |    round(avg(v - trend) + 1e-9, 4) AS s_raw
          |  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2
          |), c AS (
          |  SELECT conv_id, round(avg(s_raw) + 1e-9, 4) AS s_mean
          |  FROM s GROUP BY 1
          |), sidx AS (
          |  SELECT s.conv_id, s.hod,
          |    round(s.s_raw - c.s_mean + 1e-9, 4) AS s_idx
          |  FROM s JOIN c ON s.conv_id = c.conv_id
          |), resid AS (
          |  SELECT t.conv_id,
          |    CAST(floor((t.v - t.trend - si.s_idx) * 10000.0 + 0.5)
          |      AS BIGINT) AS q
          |  FROM t JOIN sidx si
          |    ON si.conv_id = t.conv_id AND si.hod = hour(t.bucket_ts)
          |  WHERE t.trend IS NOT NULL
          |), agg1 AS (
          |  SELECT conv_id, q,
          |    CAST(count(*) OVER w AS BIGINT) AS n,
          |    CAST(sum(q) OVER w AS BIGINT) AS sq,
          |    CAST(sum(q * q) OVER w AS BIGINT) AS sq2
          |  FROM resid WINDOW w AS (PARTITION BY conv_id)
          |), fl AS (
          |  SELECT conv_id, q, n,
          |    (n >= 2 AND
          |     (CAST(q AS HUGEINT) * n - sq) * (CAST(q AS HUGEINT) * n - sq)
          |       * (n - 1) >
          |     (CAST(n AS HUGEINT) * sq2 - CAST(sq AS HUGEINT) * sq) * 9 * n)
          |      AS anom
          |  FROM agg1
          |)
          |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_buckets,
          |  CAST(sum(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
          |  round(max(abs(q)) / 10000.0, 4) AS max_abs_resid
          |FROM fl GROUP BY 1 ORDER BY conv_id""".stripMargin)),
    // two-sample Kolmogorov-Smirnov on the same weekday/weekend cohorts
    // as ts_wasserstein (exact integer CDF sup + Smirnov critical value)
    DriverQuery("ts_ks", ((s, dir) => {
      val cells = transcripts(s, dir)
        .groupBy(col("conv_id"),
          floor(GridSeries.ms(col("ts")) / lit(86400000L))
            .cast("long").as("day"))
        .agg(count(lit(1)).as("n_turns"))
      Summary.ksTest(
        cells.withColumn("is_weekday",
          !pmod(col("day") + 4, lit(7)).isin(0, 6)),
        "n_turns", "is_weekday")
    }),
      // KS on the ts_wasserstein cohorts: exact integer CDF sup, Smirnov
      // critical value with the shared 1.358 literal, verdict on the
      // rounded columns
      (cte +
        """, cells AS (
          |  SELECT conv_id,
          |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day,
          |    CAST(count(*) AS BIGINT) AS n_turns
          |  FROM transcripts GROUP BY 1, 2
          |), cw AS (
          |  SELECT n_turns AS v,
          |    CASE WHEN NOT (CAST((day + 4) % 7 AS INT) IN (0, 6))
          |         THEN 1 ELSE 0 END AS in_a
          |  FROM cells
          |), census AS (
          |  SELECT v, CAST(sum(in_a) AS BIGINT) AS na,
          |    CAST(count(*) - sum(in_a) AS BIGINT) AS nb
          |  FROM cw GROUP BY 1
          |), walk AS (
          |  SELECT v, na, nb,
          |    CAST(sum(na) OVER (ORDER BY v) AS BIGINT) AS cum_a,
          |    CAST(sum(nb) OVER (ORDER BY v) AS BIGINT) AS cum_b,
          |    CAST(sum(na) OVER () AS BIGINT) AS tot_a,
          |    CAST(sum(nb) OVER () AS BIGINT) AS tot_b
          |  FROM census
          |)
          |SELECT n_a, n_b, support, d_stat, crit_05,
          |  (d_stat > crit_05) AS reject
          |FROM (
          |  SELECT n_a, n_b, support,
          |    round(CAST(dnum AS DOUBLE) / (n_a * n_b) + 1e-9, 4) AS d_stat,
          |    round(1.358 * sqrt(CAST(n_a + n_b AS DOUBLE)
          |          / (CAST(n_a AS DOUBLE) * n_b)) + 1e-9, 4) AS crit_05
          |  FROM (
          |    SELECT max(tot_a) AS n_a, max(tot_b) AS n_b,
          |      CAST(count(*) AS BIGINT) AS support,
          |      CAST(max(abs(cum_a * tot_b - cum_b * tot_a)) AS BIGINT)
          |        AS dnum
          |    FROM walk))""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "same bounded CDF-walk census as ts_wasserstein + one-row reduce"))),
    // top-10 frequent tool trigrams (3-step flow patterns over the
    // per-conv tool subsequence)
    DriverQuery("ts_tool_ngrams", ((s, dir) =>
      SeriesOps.toolTrigrams(transcripts(s, dir))),
      // tool trigram flow census over the per-conv tool subsequence
      (cte +
        """, tt3 AS (
          |  SELECT conv_id, tool AS t1,
          |    lead(tool, 1) OVER w AS t2, lead(tool, 2) OVER w AS t3
          |  FROM (SELECT * FROM transcripts WHERE tool IS NOT NULL)
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |)
          |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
          |FROM tt3 WHERE t2 IS NOT NULL AND t3 IS NOT NULL
          |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 10""".stripMargin)),
    // local-level Kalman filter (Q=0.01, R=1): per-step 4-dp quantized
    // gain/state/variance, recursive-CTE oracle
    DriverQuery("ts_kalman", ((s, dir) =>
      SeriesOps.kalmanLevel(
        metrics(s, dir).withColumnRenamed("text_len", "value"),
        qVar = 0.01, rVar = 1.0)
        .orderBy("conv_id", "idx")),
      // local-level Kalman recursion (Q=0.01, R=1), per-step 4-dp states —
      // the holt/ewma recursive-CTE replay shape
      (cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS z,
          |    cast(row_number() OVER (PARTITION BY conv_id
          |                            ORDER BY ts, turn_idx) AS int) AS idx
          |  FROM metrics
          |), r AS (
          |  -- CAST: the recursive CTE takes column types from the base
          |  -- term, and a bare 0.0 literal is DECIMAL(2,1) in DuckDB —
          |  -- it would silently truncate every later k/p to one decimal
          |  SELECT conv_id, idx, z, CAST(0.0 AS DOUBLE) AS k,
          |    round(z + 1e-9, 4) AS x, CAST(1.0 AS DOUBLE) AS p
          |  FROM v WHERE idx = 1
          |  UNION ALL
          |  SELECT conv_id, idx, z, k,
          |    round(xp + k * (z - xp) + 1e-9, 4) AS x,
          |    round((1 - k) * pp + 0.01 + 1e-9, 4) AS p
          |  FROM (
          |    SELECT v.conv_id, v.idx, v.z, r.x AS xp, r.p AS pp,
          |      round(r.p / (r.p + 1.0) + 1e-9, 4) AS k
          |    FROM r JOIN v ON v.conv_id = r.conv_id AND v.idx = r.idx + 1)
          |)
          |SELECT conv_id, idx, z AS value, k AS k_gain, x AS x_hat,
          |  p AS p_var
          |FROM r ORDER BY conv_id, idx""".stripMargin)),
  )
}
