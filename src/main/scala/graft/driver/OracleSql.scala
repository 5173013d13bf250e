package graft.driver

import graft.operators.Som
import graft.sources.Transcripts

/** DuckDB oracle SQL, kept structurally parallel to the Spark pipeline so
  * float expressions evaluate in the same IEEE operand order.
  *
  * IEEE NEGATIVE-ZERO CONTRACT (fleet-wide audit, round 5): the driver
  * hashes STRING RENDERINGS, and DuckDB's `round()` of a tiny negative
  * yields `-0.0` while the engine's rounding (BigDecimal HALF_UP in `r4d`
  * and Spark's native `round`) always yields `+0.0`. Every oracle output
  * column produced by `round()` over an expression that CAN be negative
  * therefore carries a `+ 0.0` normalizer (IEEE: -0.0 + 0.0 = +0.0).
  * Audited queries: ts_holt (level/trend/forecast — the round-4 red),
  * ts_cusum (max_stat via greatest-boundary), ts_trend (slope/intercept),
  * ts_ccf (r0/r1/r2), ts_acf (r1/r2/r3), ts_corr (r), ts_decompose
  * (s_idx), ts_reduce_moments (t_skewness), ts_apply_expr (anomaly),
  * ts_kernel_w + ts_variance (w_var: Σx²−(Σx)²/n can round to -0.0),
  * ts_sgolay (sg_v: signed convolution), ts_smooth_bayes (b_v),
  * ts_hampel (max_ratio), ts_texture (variance/std/correlation),
  * txt_lm + txt_ppl_bucket (lm_score), txt_dsir (mean_lr),
  * ts_train_logit (w). Columns audited and left alone because they are
  * non-negative by construction or only negative via literal sentinels:
  * ts_ewma (ewma of non-negative series), ts_peaks (max_peak, -1.0
  * sentinel), ts_mask_fill (value, -9999.0 sentinel), ts_fslope_1d
  * (unrounded max of exact diffs; x-y of equal doubles is +0.0),
  * ts_normalize (clamped to [1e-4, 1]), ts_whittaker (literal 0.0),
  * ts_probs_label (entropy/margin in [0,1] with +1e-9 bias),
  * ts_reduce_moments t_kurtosis/t_mse, ts_tuning (accuracies).
  * tools/compare.py compares string renderings (like the driver) and
  * tools/compare_selftest.py proves it catches planted -0.0 / HUGEINT.
  */
private[driver] object OracleSql {
  val cte = Transcripts.oracleCte

  /** Shared literal for the sliding-HLL estimate α·m²·2^B (m = 256,
    * B = 25): the Spark side recomputes the identical Scala double in
    * [[graft.operators.Sliding.hllSliding]]; `Double.toString`
    * round-trips, so the SQL literal parses back to the same bits.
    */
  val hllSlideC: Double =
    (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 * (1L << 25).toDouble

  // tier-dispatch region boundaries, same ceil/floor arithmetic as
  // TierDispatch.rangeAggregate over Fixtures.dispatchFrom/ToMs
  val dpFrom = Fixtures.dispatchFromMs
  val dpTo = Fixtures.dispatchToMs
  val dpHC0 = ((dpFrom + 3600000L - 1) / 3600000L) * 3600000L
  val dpHF1 = (dpTo / 3600000L) * 3600000L
  val dpDC0 = ((dpHC0 + 86400000L - 1) / 86400000L) * 86400000L
  val dpDF1 = (dpHF1 / 86400000L) * 86400000L

  /** Render-dispatch oracle: the granularity CASE chain mirrors
    * Downsample.renderGranularity's ceil arithmetic; all three candidate
    * M4 envelopes are built and the branch matching the derived choice is
    * selected — so BOTH the dispatch decision and the chosen envelope are
    * cross-checked. (Lazy: it reads metricsCte, a plain val declared
    * below it, which is still null while the object initialises.)
    */
  lazy val renderDispatchSql: String = {
    val (f, t, w) = (Fixtures.renderFromMs, Fixtures.renderToMs, 96)
    def m4Branch(g: String) =
      s"""  SELECT '$g' AS granularity, bucket_ts,
         |    min(text_len) AS v_min, max(text_len) AS v_max,
         |    min(CASE WHEN ra = 1 THEN text_len END) AS v_first,
         |    min(CASE WHEN rd = 1 THEN text_len END) AS v_last,
         |    count(*) AS n
         |  FROM (
         |    SELECT date_trunc('$g', ts) AS bucket_ts, text_len,
         |      row_number() OVER (PARTITION BY date_trunc('$g', ts)
         |        ORDER BY ts, conv_id, turn_idx) AS ra,
         |      row_number() OVER (PARTITION BY date_trunc('$g', ts)
         |        ORDER BY ts DESC, conv_id DESC, turn_idx DESC) AS rd
         |    FROM rng)
         |  GROUP BY 1, 2""".stripMargin
    cte + metricsCte +
      s""", rng AS (
         |  SELECT conv_id, turn_idx, ts, text_len FROM metrics
         |  WHERE epoch_ms(ts) >= $f AND epoch_ms(ts) < $t
         |), choice AS (
         |  SELECT CASE
         |    WHEN ceil((${t}.0 - $f) / 86400000.0) >= $w THEN 'day'
         |    WHEN ceil((${t}.0 - $f) / 3600000.0) >= $w THEN 'hour'
         |    ELSE 'minute' END AS g
         |), all3 AS (
         |${m4Branch("day")}
         |  UNION ALL
         |${m4Branch("hour")}
         |  UNION ALL
         |${m4Branch("minute")}
         |)
         |SELECT a.granularity, a.bucket_ts, a.v_min, a.v_max,
         |       a.v_first, a.v_last, a.n
         |FROM all3 a JOIN choice c ON a.granularity = c.g
         |ORDER BY a.bucket_ts""".stripMargin
  }

  val metricsCte =
    """, metrics AS (
      |  SELECT conv_id, turn_idx, role, ts,
      |         cast(length(text) AS double) AS text_len,
      |         CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END AS is_tool,
      |         CASE role WHEN 'user' THEN 0 WHEN 'assistant' THEN 1 ELSE 2 END AS quality_rank
      |  FROM transcripts
      |)""".stripMargin

  /** [[graft.operators.Rollup.presentState]] over a CTE `st` of moment
    * state (n, sum_v, sum2_v, min_v, max_v): the `keys` columns, n,
    * `n_convs` when `nConvs`, then the stats rounded at the output boundary,
    * ordered by `keys`.
    */
  def presentStateSql(keys: String, nConvs: Boolean = false): String =
    s"""SELECT $keys, n,${if (nConvs) " n_convs," else ""}
       |  round(sum_v + 1e-9, 4) AS sum_v,
       |  round(sum_v / n + 1e-9, 4) AS mean_v,
       |  min_v, max_v,
       |  CASE WHEN n > 1 THEN
       |    round(sqrt(greatest(0.0, (sum2_v - sum_v * sum_v / n) / (n - 1)))
       |          + 1e-9, 4) END AS std_v,
       |  round(max_v - min_v + 1e-9, 4) AS amp_v
       |FROM st ORDER BY $keys""".stripMargin

  /** 30-min gap-threshold session ledger (mirrors SeriesOps.sessionize on
    * the raw transcripts relation) — shared by the interval-join and
    * concurrency oracles.
    */
  val sessionsCte =
    """, sflag0 AS (
      |  SELECT conv_id, ts, turn_idx,
      |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM transcripts
      |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
      |), sid0 AS (
      |  SELECT conv_id, ts,
      |    sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
      |      AS sess_idx
      |  FROM sflag0
      |), sess AS (
      |  SELECT conv_id, CAST(sess_idx AS BIGINT) AS sess_idx,
      |    count(*) AS n_turns,
      |    min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
      |    max(epoch_ms(ts)) - min(epoch_ms(ts)) AS dur_ms
      |  FROM sid0 GROUP BY conv_id, sess_idx
      |)""".stripMargin

  val regularCte = metricsCte +
    """, firstv AS (
      |  SELECT conv_id, bucket_ts, value FROM (
      |    SELECT conv_id, date_trunc('minute', ts) AS bucket_ts, text_len AS value,
      |           row_number() OVER (PARTITION BY conv_id, date_trunc('minute', ts)
      |                              ORDER BY quality_rank, ts, turn_idx) AS rn
      |    FROM metrics) WHERE rn = 1
      |), grid AS (
      |  SELECT conv_id, unnest(generate_series(mn, mx, interval 1 minute)) AS bucket_ts
      |  FROM (SELECT conv_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM firstv GROUP BY conv_id)
      |), regular AS (
      |  SELECT g.conv_id, g.bucket_ts, f.value
      |  FROM grid g LEFT JOIN firstv f ON g.conv_id = f.conv_id AND g.bucket_ts = f.bucket_ts
      |)""".stripMargin

  val gapfilledCte = regularCte +
    """, gf0 AS (
      |  SELECT conv_id, bucket_ts, value,
      |         cast(row_number() OVER (PARTITION BY conv_id ORDER BY bucket_ts) AS double) AS i
      |  FROM regular
      |), gf1 AS (
      |  SELECT conv_id, bucket_ts, value, i,
      |    last_value(value IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN value IS NOT NULL THEN i END IGNORE NULLS) OVER wp AS pi,
      |    first_value(value IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN value IS NOT NULL THEN i END IGNORE NULLS) OVER wf AS ni
      |  FROM gf0
      |  WINDOW wp AS (PARTITION BY conv_id ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY conv_id ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |), gapfilled AS (
      |  SELECT conv_id, bucket_ts,
      |    CASE WHEN value IS NOT NULL THEN value
      |         WHEN pv IS NULL THEN nv
      |         WHEN nv IS NULL THEN pv
      |         ELSE pv + (i - pi) * (nv - pv) / (ni - pi) END AS value
      |  FROM gf1
      |)""".stripMargin

  // Savitzky-Golay coefficient matrix (order 3, k=3) — same matrix the Spark
  // kernel uses, embedded as literals so DuckDB runs the identical algebra
  val sgF = graft.functions.SeriesKernels.sgolayMatrix(3, 3)
  def sgDot(r: Int, idx: Int => String): String =
    (0 until 7).map(j => s"(${sgF(r)(j)}) * vals[${idx(j)}]").mkString(" + ")
  val sgCase: String = {
    val lead = (0 until 3).map(r =>
      s"WHEN i = ${r + 1} THEN ${sgDot(r, j => s"${j + 1}")}").mkString("\n    ")
    val trail = (4 until 7).map { r =>
      val off = 6 - r
      val cond = if (off == 0) "n" else s"n - $off"
      s"WHEN i = $cond THEN ${sgDot(r, j => s"n - 6 + $j")}"
    }.mkString("\n    ")
    val mid = (0 until 7).map(s => s"(${sgF(3)(s)}) * vals[i + ${3 - s}]").mkString(" + ")
    s"CASE WHEN n < 7 THEN vals[i]\n    $lead\n    $trail\n    ELSE $mid END"
  }

  val probsCte =
    """, probs AS (
      |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
      |    cast(count(*) FILTER (WHERE role = 'user') + 1 AS double) / (count(*) + 3) AS p1,
      |    cast(count(*) FILTER (WHERE role = 'assistant') + 1 AS double) / (count(*) + 3) AS p2,
      |    cast(count(*) FILTER (WHERE role = 'tool') + 1 AS double) / (count(*) + 3) AS p3
      |  FROM transcripts GROUP BY 1, 2
      |)""".stripMargin

  val seriesArrCtes =
    """, day1 AS (
      |  SELECT conv_id, bucket_ts, value FROM gapfilled WHERE bucket_ts < timestamp '2024-01-02'
      |), arr AS (
      |  SELECT conv_id, list(bucket_ts ORDER BY bucket_ts) AS tsv,
      |         list(value ORDER BY bucket_ts) AS vals
      |  FROM day1 GROUP BY conv_id
      |), idx AS (
      |  SELECT conv_id, tsv, vals, len(vals) AS n,
      |         unnest(generate_series(1, len(vals))) AS i
      |  FROM arr
      |)""".stripMargin

  // ---- bayts oracle builders (mirror SeriesKernels.baytsNf/baytsDetect
  // with SQL NULL playing the kernel's NaN: comparisons with NULL are falsy
  // in CASE exactly as NaN comparisons are false in Scala, and
  // pbayes(NULL, x) is NULL as pbayes(NaN, x) is NaN) ----
  def dnormSql(x: String, m: String, s: String): String =
    s"exp(-0.5 * (($x - $m) / $s) * (($x - $m) / $s)) / ($s * sqrt(2 * pi()))"
  // per-band conditional NF-probability: dnorm ratio, <1e-5 zeroing (which
  // the [0.1,0.9] clamp then lifts to 0.1), clamp — bayts_fns.cpp:43-122
  def pbandSql(x: String, mF: String, sF: String, mNF: String,
      sNF: String): String = {
    val pf = dnormSql(x, mF, sF)
    val pnfRaw = dnormSql(x, mNF, sNF)
    s"""CASE WHEN $x IS NULL THEN NULL
       |         WHEN $pnfRaw < 0.00001 THEN 0.1
       |         ELSE least(greatest(($pnfRaw) / (($pnfRaw) + ($pf)), 0.1), 0.9) END""".stripMargin
  }
  // reference pbayes incl. the 1e15 floor truncation (bayts_fns.cpp:28-31)
  def pbayesSql(a: String, b: String): String =
    s"floor((($a) * ($b)) / ((($a) * ($b)) + ((1.0 - ($a)) * (1.0 - ($b)))) * 1.0e15) / 1.0e15"
  lazy val baytsSql: String = {
    val p0 = pbandSql("d.va", "130.0", "40.0", "210.0", "40.0")
    val p1 = pbandSql("d.vb", "0.2", "0.2", "0.8", "0.2")
    val cur = "ps[t + 1]"
    val prev = "ps[t]"
    val pbUpd = pbayesSql("pchange", cur)
    val pbFlag = pbayesSql(prev, cur)
    // one detect step (bayts_fns.cpp:245-290 as coded): flag on p>thr with
    // pchange=pbayes(prev,cur); else Bayes-update, reject run when <0.5;
    // confirm when flagged && pchange>=chi && cur>=0.5 (same-step check)
    val flaggedNew =
      s"CASE WHEN NOT flagged THEN coalesce($cur > 0.5, false) " +
        s"ELSE NOT coalesce(($pbUpd) < 0.5, false) END"
    val pchangeNew =
      s"CASE WHEN NOT flagged THEN (CASE WHEN coalesce($cur > 0.5, false) THEN $pbFlag END) " +
        s"ELSE (CASE WHEN coalesce(($pbUpd) < 0.5, false) THEN NULL ELSE $pbUpd END) END"
    val confNew =
      s"CASE WHEN ($flaggedNew) AND coalesce(($pchangeNew) >= 0.9, false) " +
        s"AND coalesce($cur >= 0.5, false) THEN t ELSE -1 END"
    cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
      s""", days AS (
         |  SELECT conv_id,
         |         date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
         |         avg(text_len) AS va, avg(is_tool) AS vb
         |  FROM metrics GROUP BY 1, 2
         |), nper AS (
         |  SELECT conv_id, max(idx) + 1 AS n FROM days GROUP BY 1
         |), bgrid AS (
         |  SELECT conv_id, n, unnest(generate_series(0, n - 1)) AS idx FROM nper
         |), pnf AS (
         |  SELECT g.conv_id, g.n, g.idx,
         |    $p0 AS p0,
         |    $p1 AS p1
         |  FROM bgrid g LEFT JOIN days d USING (conv_id, idx)
         |), fusedp AS (
         |  SELECT conv_id, n, idx,
         |    CASE WHEN p1 IS NOT NULL AND p0 IS NOT NULL THEN ${pbayesSql("p1", "p0")}
         |         WHEN p1 IS NULL THEN p0 ELSE p1 END AS p
         |  FROM pnf
         |), parr AS (
         |  SELECT conv_id, max(n) AS n, list(p ORDER BY idx) AS ps FROM fusedp GROUP BY 1
         |), det AS (
         |  SELECT conv_id, ps, n, 1 AS t, false AS flagged,
         |         cast(NULL AS double) AS pchange, -1 AS confirmed
         |  FROM parr
         |  UNION ALL
         |  SELECT conv_id, ps, n, t + 1,
         |    $flaggedNew,
         |    $pchangeNew,
         |    $confNew
         |  FROM det WHERE t < n AND confirmed < 0
         |)
         |SELECT conv_id, max_by(confirmed, t) AS change_idx,
         |       max_by(confirmed, t) >= 0 AS changed
         |FROM det GROUP BY 1 ORDER BY conv_id""".stripMargin
  }

  // ---- DTW oracle: symmetric-2 DP (dtw.cpp:36-105 as coded in
  // SeriesKernels.dtw) replayed as an ANTI-DIAGONAL wavefront recursion —
  // every cell on diagonal k depends only on diagonals k-1 and k-2, so one
  // recursion step computes a whole diagonal with list_transform. All local
  // arithmetic is abs/*/+/min (exact-rounding IEEE ops, bit-identical to the
  // JVM kernel; Math.pow(x,2)=x*x and pow(s,0.5)=sqrt(s) per fdlibm special
  // cases), so the distance matches to the last ulp before rounding. ----
  // parameterized DTW oracle: `extraCtes` may append pattern-transforming
  // CTEs (e.g. the Whittaker LDLᵀ replay) and `patternRel` names the
  // (label, sb, m) relation the wavefront consumes
  def dtwOracle(extraCtes: String, patternRel: String): String = {
    // cell (ii=i-1, j=k+2-i) on diagonal knew=k+1; diag lists are length n,
    // position p holds D(p-1, knew-(p-1)); d1 = diag knew-1, d2 = diag knew-2
    val c = "(abs(sa[i] - sb[k + 3 - i]) * abs(sa[i] - sb[k + 3 - i]))"
    val cell =
      s"""CASE WHEN k + 2 - i < 0 OR k + 2 - i >= m THEN NULL
         |           WHEN i = 1 AND k + 2 - i = 0 THEN $c
         |           WHEN i = 1 THEN d1[1] + $c
         |           WHEN k + 2 - i = 0 THEN d1[i - 1] + $c
         |           ELSE least(least(d1[i - 1] + $c, d1[i] + $c), d2[i - 1] + 2 * $c) END""".stripMargin
    cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
      s""", days AS (
         |  SELECT conv_id,
         |         date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
         |         avg(text_len) AS value
         |  FROM metrics GROUP BY 1, 2
         |), sarr AS (
         |  SELECT conv_id, list(value ORDER BY idx) AS sa, count(*) AS n FROM days GROUP BY 1
         |), labs AS (
         |  SELECT conv_id, cast(substring(conv_id, 2, 6) AS int) % 3 + 1 AS label
         |  FROM (SELECT DISTINCT conv_id FROM days)
         |), pmeans AS (
         |  SELECT l.label, d.idx, avg(d.value) AS value
         |  FROM days d JOIN labs l USING (conv_id) GROUP BY 1, 2
         |), parr AS (
         |  SELECT label, list(value ORDER BY idx) AS sb, count(*) AS m FROM pmeans GROUP BY 1
         |)""".stripMargin + extraCtes +
      s""", pairs AS (
         |  SELECT s.conv_id, p.label, s.sa, s.n, p.sb, p.m
         |  FROM sarr s CROSS JOIN $patternRel p
         |), dp AS (
         |  SELECT conv_id, label, sa, n, sb, m, -1 AS k,
         |         cast(NULL AS double[]) AS d1, cast(NULL AS double[]) AS d2
         |  FROM pairs
         |  UNION ALL
         |  SELECT conv_id, label, sa, n, sb, m, k + 1,
         |    list_transform(generate_series(1, cast(n AS int)), i ->
         |      $cell),
         |    d1
         |  FROM dp WHERE k < n + m - 2
         |), dists AS (
         |  SELECT conv_id, label, sqrt(d1[cast(n AS int)]) AS dist
         |  FROM dp WHERE k = n + m - 2
         |), ranked AS (
         |  SELECT conv_id, label, dist,
         |         row_number() OVER (PARTITION BY conv_id ORDER BY dist, label) AS rn
         |  FROM dists
         |)
         |SELECT conv_id, label, round(dist + 1e-9, 4) AS dtw_dist
         |FROM ranked WHERE rn = 1 ORDER BY conv_id""".stripMargin
  }

  lazy val dtwSql: String = dtwOracle("", "parr")

  // ---- ts_cluster oracle: full pairwise symmetric-2 DTW matrix (the same
  // wavefront recursion as dtwOracle, keyed by the pair (i, j) instead of
  // (conv, label)) followed by an exact single-linkage replay — a second
  // recursive CTE walks the edge list sorted by (raw dist, i, j) carrying
  // the per-node root-label list as state, merging max-root into min-root
  // while more than nClusters groups remain (Gower & Ross 1969: single
  // linkage ≡ Kruskal on the distance graph — the engine's distributed-MST
  // candidate filter changes WHAT the driver collects, not the result, as
  // Round3Spec proves against the brute-force triangle). Raw (unrounded)
  // distances order the edges: kernel DTW and the SQL replay agree to the
  // last ulp (abs*abs ≡ pow(x,2), sqrt exact-rounding — dtwOracle's
  // established contract). Output renumbers roots by dense rank. ----
  lazy val clusterCtes: String = {
    val kCl = 3
    val c = "(abs(sa[i] - sb[k + 3 - i]) * abs(sa[i] - sb[k + 3 - i]))"
    val cell =
      s"""CASE WHEN k + 2 - i < 0 OR k + 2 - i >= m THEN NULL
         |           WHEN i = 1 AND k + 2 - i = 0 THEN $c
         |           WHEN i = 1 THEN d1[1] + $c
         |           WHEN k + 2 - i = 0 THEN d1[i - 1] + $c
         |           ELSE least(least(d1[i - 1] + $c, d1[i] + $c), d2[i - 1] + 2 * $c) END""".stripMargin
    cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
      s""", days AS (
         |  SELECT conv_id,
         |         date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
         |         avg(text_len) AS value
         |  FROM metrics
         |  WHERE cast(substring(conv_id, 2, 6) AS int) % 3 = 0
         |  GROUP BY 1, 2
         |), sarr AS MATERIALIZED (
         |  SELECT conv_id, list(value ORDER BY idx) AS sa, count(*) AS n FROM days GROUP BY 1
         |), ids AS MATERIALIZED (
         |  SELECT conv_id, cast(row_number() OVER (ORDER BY conv_id) AS int) AS nid FROM sarr
         |), pp AS (
         |  SELECT ia.nid AS i, ib.nid AS j, a.sa, a.n, b.sa AS sb, b.n AS m
         |  FROM sarr a JOIN ids ia USING (conv_id)
         |  CROSS JOIN sarr b JOIN ids ib ON b.conv_id = ib.conv_id
         |  WHERE ia.nid < ib.nid
         |), dp AS (
         |  SELECT i, j, sa, n, sb, m, -1 AS k,
         |         cast(NULL AS double[]) AS d1, cast(NULL AS double[]) AS d2
         |  FROM pp
         |  UNION ALL
         |  SELECT i, j, sa, n, sb, m, k + 1,
         |    list_transform(generate_series(1, cast(n AS int)), i ->
         |      $cell),
         |    d1
         |  FROM dp WHERE k < n + m - 2
         |), e AS MATERIALIZED (
         |  SELECT i, j, sqrt(d1[cast(n AS int)]) AS dist,
         |         cast(row_number() OVER (ORDER BY sqrt(d1[cast(n AS int)]), i, j) AS int) AS eidx
         |  FROM dp WHERE k = n + m - 2
         |), merge AS (
         |  SELECT 0 AS step,
         |         (SELECT list(nid ORDER BY nid) FROM ids) AS labels,
         |         (SELECT cast(count(*) AS int) FROM ids) AS groups
         |  UNION ALL
         |  SELECT m.step + 1,
         |    CASE WHEN m.groups > $kCl AND m.labels[e.i] <> m.labels[e.j]
         |      THEN list_transform(m.labels, l ->
         |        CASE WHEN l = greatest(m.labels[e.i], m.labels[e.j])
         |             THEN least(m.labels[e.i], m.labels[e.j]) ELSE l END)
         |      ELSE m.labels END,
         |    CASE WHEN m.groups > $kCl AND m.labels[e.i] <> m.labels[e.j]
         |         THEN m.groups - 1 ELSE m.groups END
         |  FROM merge m JOIN e ON e.eidx = m.step + 1
         |), fin AS (
         |  SELECT labels FROM merge ORDER BY step DESC LIMIT 1
         |), assigned AS (
         |  SELECT i.conv_id,
         |    cast(dense_rank() OVER (ORDER BY f.labels[i.nid]) AS int) AS cluster
         |  FROM ids i CROSS JOIN fin f
         |)""".stripMargin
  }

  lazy val clusterSql: String =
    clusterCtes + "\nSELECT conv_id, cluster FROM assigned ORDER BY conv_id"

  /** Per-conv majority role (mode with count-desc/role-asc tie-break) —
    * label side of the cluster frequency/clean oracles.
    */
  lazy val majorityRoleCte: String =
    """, rl AS (
      |  SELECT conv_id, role, count(*) AS n FROM transcripts GROUP BY 1, 2
      |), lab AS (
      |  SELECT conv_id, role AS label FROM (
      |    SELECT conv_id, role,
      |           row_number() OVER (PARTITION BY conv_id ORDER BY n DESC, role) AS rn
      |    FROM rl) WHERE rn = 1
      |)""".stripMargin

  // Whittaker smoothing of the label prototypes replayed in SQL: the
  // pentadiagonal LDLᵀ factorization (SeriesKernels.whittaker:154-208) is
  // three sequential sweeps — factor (d, l1, l2), forward substitution,
  // backward substitution — each a recursion with list state, with the
  // element-wise diagonal scale in between. Every expression mirrors the
  // kernel's operand order exactly (((d0 − l1²d) − l2²d), (y − l1z) − l2z),
  // so the smoothed prototypes are bit-identical and the wavefront DTW then
  // verifies the λ>0 patterns end-to-end. Valid for n ≥ 5 (pattern series
  // are full timelines; the kernel's tiny-n branches would fail loudly).
  lazy val dtwLambdaChain: String = {
    // cast: bare numeric literals are DECIMAL in DuckDB, and a list built
    // PURELY from decimal literals stays decimal — truncating the
    // factorization to 2 decimals (found the hard way)
    val lam = "cast(1.0 AS double)"
    def d0(i: String) =
      s"(1.0 + $lam * (CASE WHEN $i = 1 OR $i = n THEN 1.0 " +
        s"WHEN $i = 2 OR $i = n - 1 THEN 5.0 ELSE 6.0 END))"
    def dd1(i: String) =
      s"($lam * (CASE WHEN $i = 1 OR $i = n - 1 THEN -2.0 ELSE -4.0 END))"
    val dnewExpr =
      s"CASE WHEN i + 1 = 2 THEN ${d0("2")} - l1l[1] * l1l[1] * dl[1] " +
        s"ELSE (${d0("(i + 1)")} - l1l[i] * l1l[i] * dl[i]) - l2l[i - 1] * l2l[i - 1] * dl[i - 1] END"
    s""", pl AS (
       |  SELECT label, list(value ORDER BY idx) AS yv, cast(count(*) AS int) AS n
       |  FROM pmeans GROUP BY 1
       |), fac AS (
       |  SELECT label, yv, n, 1 AS i,
       |    [${d0("1")}] AS dl,
       |    [CASE WHEN n > 1 THEN ${dd1("1")} / ${d0("1")} ELSE cast(0.0 AS double) END] AS l1l,
       |    [CASE WHEN n > 2 THEN $lam / ${d0("1")} ELSE cast(0.0 AS double) END] AS l2l
       |  FROM pl
       |  UNION ALL
       |  SELECT label, yv, n, i + 1,
       |    list_append(dl, dnew),
       |    list_append(l1l, CASE WHEN i + 1 <= n - 1
       |      THEN (${dd1("(i + 1)")} - l1l[i] * dl[i] * l2l[i]) / dnew
       |      ELSE cast(0.0 AS double) END),
       |    list_append(l2l, CASE WHEN i + 1 <= n - 2 THEN $lam / dnew
       |      ELSE cast(0.0 AS double) END)
       |  FROM (SELECT *, ($dnewExpr) AS dnew FROM fac WHERE i < n)
       |), facf AS (
       |  SELECT label, yv, n, dl, l1l, l2l FROM fac WHERE i = n
       |), fwd AS (
       |  SELECT label, yv, n, dl, l1l, l2l, 1 AS j, [yv[1]] AS zf FROM facf
       |  UNION ALL
       |  SELECT label, yv, n, dl, l1l, l2l, j + 1,
       |    list_append(zf, CASE WHEN j + 1 = 2 THEN yv[2] - l1l[1] * zf[1]
       |      ELSE (yv[j + 1] - l1l[j] * zf[j]) - l2l[j - 1] * zf[j - 1] END)
       |  FROM fwd WHERE j < n
       |), scl AS (
       |  SELECT label, n, l1l, l2l,
       |    list_transform(generate_series(1, n), k2 -> zf[k2] / dl[k2]) AS zs
       |  FROM fwd WHERE j = n
       |), bwd AS (
       |  SELECT label, n, l1l, l2l, zs, 1 AS q, [zs[n]] AS zb FROM scl
       |  UNION ALL
       |  SELECT label, n, l1l, l2l, zs, q + 1,
       |    list_append(zb, CASE WHEN q = 1 THEN zs[n - q] - l1l[n - q] * zb[q]
       |      ELSE (zs[n - q] - l1l[n - q] * zb[q]) - l2l[n - q] * zb[q - 1] END)
       |  FROM bwd WHERE q < n
       |), parrS AS (
       |  SELECT label, list_reverse(zb) AS sb, n AS m FROM bwd WHERE q = n
       |)""".stripMargin
  }
  lazy val dtwLambdaSql: String = dtwOracle(dtwLambdaChain, "parrS")

  /** P-spline certificate oracle: recomputes Bᵀy from the per-label mean
    * day-series and the CLOSED-FORM uniform cubic B-spline basis
    * N(u − j + 4) with u = (i−1)·nseg/(m−1) (nseg = k−3 = 5) — the same
    * piecewise cubics, in the same operand order, as
    * SeriesKernels.bspline3/bsplineBasis — and asserts the engine's
    * normal-equation residual is identically zero (optimality
    * certificate, Whittaker-resid style: given B, λ, D₂ fixed, the SPD
    * system has a unique solution, so Bᵀy-match + resid≡0 pins the fit).
    */
  lazy val patternsSql: String = {
    val t = "((i - 1) * 5.0 / (m - 1) - j + 4)"
    val nOf =
      s"""(CASE WHEN $t < 0 OR $t > 4 THEN 0.0
         |          WHEN $t < 1 THEN $t * $t * $t / 6.0
         |          WHEN $t < 2 THEN (-3 * $t * $t * $t + 12 * $t * $t - 12 * $t + 4) / 6.0
         |          WHEN $t < 3 THEN (3 * $t * $t * $t - 24 * $t * $t + 60 * $t - 44) / 6.0
         |          ELSE (4 - $t) * (4 - $t) * (4 - $t) / 6.0 END)""".stripMargin
    cte + metricsCte +
      s""", days AS (
         |  SELECT conv_id,
         |         date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
         |         avg(text_len) AS value
         |  FROM metrics GROUP BY 1, 2
         |), labs AS (
         |  SELECT conv_id, cast(substring(conv_id, 2, 6) AS int) % 3 + 1 AS label
         |  FROM (SELECT DISTINCT conv_id FROM days)
         |), pmeans AS (
         |  SELECT l.label, d.idx, avg(d.value) AS value
         |  FROM days d JOIN labs l USING (conv_id) GROUP BY 1, 2
         |), parr AS (
         |  SELECT label, list(value ORDER BY idx) AS sb, count(*) AS m
         |  FROM pmeans GROUP BY 1
         |)
         |SELECT label, cast(j AS int) AS j, cast(m AS int) AS m,
         |  round(list_sum(list_transform(generate_series(1, cast(m AS int)), i ->
         |    $nOf * sb[i])) + 1e-9, 4) + 0.0 AS bty,
         |  cast(0.0 AS double) AS resid
         |FROM parr CROSS JOIN generate_series(1, 8) AS g(j)
         |WHERE m >= 8
         |ORDER BY label, j""".stripMargin
  }

  /** The same plants as SQL VALUES rows (no apostrophes in any plant, so
    * plain single-quoting is safe; real newlines pass through the JSON
    * escaper).
    */
  lazy val gopherPlantsSql: String = Fixtures.gopherPlants
    .map { case (id, t) => s"($id, '$t')" }.mkString(",\n    ")

  /** Ground-truth sample points CTE (sits_get_* family): turn 3 of every
    * 7th conversation — mirrors [[Fixtures.samplePoints]].
    */
  lazy val samplesCte =
    """, samples AS (
      |  SELECT conv_id AS sample_id, conv_id, ts AS sample_ts FROM transcripts
      |  WHERE turn_idx = 3 AND cast(substr(conv_id, 2, 6) AS bigint) % 7 = 0
      |)""".stripMargin

  /** Stub-linear-model probability chain (the ts_softmax / ts_classify_e2e
    * feature→score→softmax derivation), ending in
    * `pr(conv_id, bucket_ts, p1, p2, p3)`. Requires metricsCte.
    */
  lazy val classifyPrCtes =
    """, fx AS (
      |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
      |    round(avg(text_len) / 100.0 + 1e-9, 4) AS f1,
      |    round(avg(is_tool) + 1e-9, 4) AS f2,
      |    round(count(*) / 10.0 + 1e-9, 4) AS f3
      |  FROM metrics GROUP BY 1, 2
      |), sc AS (
      |  SELECT conv_id, bucket_ts,
      |    0.1 + 0.8 * f1 + -1.2 * f2 + 0.3 * f3 AS s1,
      |    -0.2 + -0.5 * f1 + 2.0 * f2 + 0.1 * f3 AS s2,
      |    0.05 + 0.2 * f1 + 0.4 * f2 + -0.7 * f3 AS s3
      |  FROM fx
      |), sm AS (
      |  SELECT conv_id, bucket_ts, s1, s2, s3,
      |    greatest(s1, s2, s3)
      |      + ln(exp(s1 - greatest(s1, s2, s3)) + exp(s2 - greatest(s1, s2, s3))
      |           + exp(s3 - greatest(s1, s2, s3))) AS scale
      |  FROM sc
      |), pr AS (
      |  SELECT conv_id, bucket_ts,
      |    round(exp(s1 - scale) + 1e-9, 4) AS p1,
      |    round(exp(s2 - scale) + 1e-9, 4) AS p2,
      |    round(exp(s3 - scale) + 1e-9, 4) AS p3
      |  FROM sm
      |)""".stripMargin

  /** 32-bit SimHash signature CTE (hex-digit parity votes ≙ the typed
    * kernel's nibble parity), shared by the dd_simhash* oracles.
    */
  lazy val simhashCtes =
    """, tk AS (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')), t -> md5(t)) AS hs FROM docs
      |), sig AS (
      |  SELECT doc_id, list_sum(list_transform(generate_series(0, 31), j ->
      |    cast(pow(2, j) AS bigint) * CASE WHEN
      |      list_sum(list_transform(hs, h ->
      |        ((strpos('0123456789abcdef', substr(h, cast(j AS int) + 1, 1)) - 1) % 2) * 2 - 1)) > 0
      |    THEN 1 ELSE 0 END)) AS sig
      |  FROM tk
      |)""".stripMargin

  /** Planted-duplicate corpus shared by the dd_* oracles (mirrors
    * Fixtures.docsPlanted exactly).
    */
  /** u32 from the first 8 md5 hex digits of `arg` — DuckDB replay of
    * Accuracy.u32Md5 (digit-sum recipe; DuckDB has no conv()).
    */
  def u32Sql(arg: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 8), d ->
       |      cast(strpos('0123456789abcdef',
       |             substr(substr(md5($arg), 1, 8), cast(d AS int), 1)) - 1 AS bigint)
       |        * cast(pow(16, 8 - d) AS bigint))) AS BIGINT)""".stripMargin

  lazy val plantedCte =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zz near dup tail' FROM documents WHERE doc_id % 11 = 0
      |)""".stripMargin

  /** RAG chunk grid over a `docs(doc_id, text)` relation (mirrors
    * TextAnalysis.chunkDocs at chunkSize=32, overlap=8 → stride 24):
    * leaves `c(doc_id, toks, n, chunk_idx)` defined.
    */
  lazy val chunksSql =
    """, t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM docs
      |), nn AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
      |), c AS (
      |  SELECT doc_id, toks, n,
      |    unnest(generate_series(0,
      |      CAST(greatest(0, (n - 32 + 23) // 24) AS BIGINT))) AS chunk_idx
      |  FROM nn
      |)""".stripMargin

  /** aHash over a `docs(doc_id, text)` relation (mirrors Multimodal.phash:
    * byte bucket j = (i·64)//len, bit = integer cross-multiplied mean
    * compare, empty payloads drop): leaves `ph(doc_id, hash_hi, hash_lo)`
    * defined. Byte values decode from hex() pairs (the mm_features
    * first-BYTE recipe — ascii() would give the first codepoint).
    */
  lazy val phashSql =
    """, pb AS (
      |  SELECT doc_id, hex(cast(text AS BLOB)) AS hx,
      |    octet_length(cast(text AS BLOB)) AS len
      |  FROM docs WHERE octet_length(cast(text AS BLOB)) > 0
      |), pbytes AS (
      |  SELECT doc_id, len, hx,
      |    unnest(generate_series(0, len - 1)) AS i
      |  FROM pb
      |), pbv AS (
      |  SELECT doc_id, len, (i * 64) // len AS j,
      |    (strpos('0123456789ABCDEF',
      |        substr(hx, cast(2 * i + 1 AS int), 1)) - 1) * 16
      |      + strpos('0123456789ABCDEF',
      |          substr(hx, cast(2 * i + 2 AS int), 1)) - 1 AS v
      |  FROM pbytes
      |), pagg AS (
      |  SELECT doc_id, j, CAST(sum(v) AS BIGINT) AS sj, count(*) AS cj,
      |    min(len) AS len
      |  FROM pbv GROUP BY 1, 2
      |), ptot AS (
      |  SELECT doc_id, CAST(sum(sj) AS BIGINT) AS sa FROM pagg GROUP BY 1
      |), pbits AS (
      |  SELECT a.doc_id, a.j,
      |    CASE WHEN a.sj * a.len > t.sa * a.cj THEN CAST(1 AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM pagg a JOIN ptot t ON a.doc_id = t.doc_id
      |), ph AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN j >= 32 THEN bit << (j - 32) ELSE 0 END)
      |      AS BIGINT) AS hash_hi,
      |    CAST(sum(CASE WHEN j < 32 THEN bit << j ELSE 0 END)
      |      AS BIGINT) AS hash_lo
      |  FROM pbits GROUP BY 1
      |)""".stripMargin

  lazy val shingleCtes =
    """, tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM docs
      |), sgl AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
      |  FROM tk WHERE len(toks) >= 3
      |)""".stripMargin

  lazy val bandKeyCtes =
    """, mh AS (
      |  SELECT doc_id, list_transform(generate_series(0, 7), j ->
      |    list_aggregate(list_transform(sh, x -> md5(cast(j AS varchar) || '|' || x)), 'min')) AS m
      |  FROM sgl
      |), bnd AS (
      |  SELECT doc_id, u.band_idx,
      |         m[2 * u.band_idx + 1] || m[2 * u.band_idx + 2] AS band_key
      |  FROM mh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_idx) u
      |)""".stripMargin

  lazy val bandCtes = bandKeyCtes +
    """, pairs AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM bnd a JOIN bnd b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |)""".stripMargin

  /** Capped-bucket pairs: buckets over 64 members emit a hub star (mirrors
    * [[graft.operators.Dedup.minhashPairsCapped]]).
    */
  lazy val cappedPairsCte = bandKeyCtes +
    """, bst AS (
      |  SELECT band_idx, band_key, count(*) AS n, min(doc_id) AS hub
      |  FROM bnd GROUP BY 1, 2
      |), pairs AS (
      |  SELECT DISTINCT id1, id2 FROM (
      |    SELECT a.doc_id AS id1, b.doc_id AS id2
      |    FROM bnd a
      |    JOIN bst s ON s.band_idx = a.band_idx AND s.band_key = a.band_key AND s.n <= 64
      |    JOIN bnd b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      |              AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT s.hub AS id1, c.doc_id AS id2
      |    FROM bnd c
      |    JOIN bst s ON s.band_idx = c.band_idx AND s.band_key = c.band_key
      |    WHERE s.n > 64 AND c.doc_id <> s.hub
      |  ) u
      |)""".stripMargin

  /** Planted corpus + the 2000-doc clone storm (mirrors `docsStorm`). */
  lazy val stormCte =
    """WITH pdocs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zz near dup tail' FROM documents WHERE doc_id % 11 = 0
      |), docs AS (
      |  SELECT doc_id, text FROM pdocs
      |  UNION ALL
      |  SELECT 1000000 + g AS doc_id,
      |         'clonestorm boilerplate verbatim replica payload chunk' AS text
      |  FROM generate_series(0, 1999) t(g)
      |)""".stripMargin

  /** Norm CTE over an embedding relation (name parameterized so the planted
    * variant can reuse it).
    */
  def embCtes(rel: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM $rel
       |), nrm AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nm FROM e
       |)""".stripMargin

  // k-means oracle: unrolled Lloyd iterations. The 4-decimal quantization of
  // each centroid update makes the per-iteration state identical across
  // engines (summation-order float drift ~1e-14 is absorbed by the round),
  // so the replay is exact without DuckDB matching Spark's partitioning.
  def kmCos(c: String): String =
    s"round(list_sum(list_transform(generate_series(1, 64), i -> $c.cv[i] * n.v[i]))" +
      s" / (sqrt(list_sum(list_transform($c.cv, x -> x * x))) * n.nm) + 1e-9, 6)"
  def kmAsg(j: Int, centsRel: String): String =
    s""", asg$j AS (
       |  SELECT vec_id, cell, cos FROM (
       |    SELECT n.vec_id, c.cid AS cell, ${kmCos("c")} AS cos,
       |      row_number() OVER (PARTITION BY n.vec_id
       |                         ORDER BY ${kmCos("c")} DESC, c.cid) AS rn
       |    FROM nrm n CROSS JOIN $centsRel c) WHERE rn = 1
       |)""".stripMargin
  def kmUpdate(j: Int): String =
    s""", cm$j AS (
       |  SELECT a.cell, d.i AS dim, round(avg(n.v[d.i]) + 1e-9, 4) AS mv
       |  FROM asg$j a JOIN nrm n USING (vec_id)
       |       CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
       |  GROUP BY 1, 2
       |), cents$j AS (
       |  SELECT cell AS cid, list(mv ORDER BY dim) AS cv FROM cm$j GROUP BY 1
       |)""".stripMargin
  lazy val kmeansSql: String = {
    val iters = 2
    val steps = (1 to iters).map(j =>
      kmAsg(j, if (j == 1) "cents0" else s"cents${j - 1}") + kmUpdate(j)).mkString
    embCtes("embeddings") +
      """, cents0 AS (
        |  SELECT vec_id AS cid, v AS cv FROM nrm WHERE vec_id % 97 = 0
        |)""".stripMargin +
      steps + kmAsg(iters + 1, s"cents$iters") +
      s"""
         |SELECT vec_id, cell, cos FROM asg${iters + 1} ORDER BY vec_id""".stripMargin
  }

  // SemDeDup oracle: planted-dup embeddings → the kmeansSql replay (2
  // quantized Lloyd iterations from the %97 seeds) → within-cell pairs at
  // rounded cos ≥ 0.999 → lower-id dominator counts.
  lazy val semdedupSql: String = {
    val iters = 2
    val steps = (1 to iters).map(j =>
      kmAsg(j, if (j == 1) "cents0" else s"cents${j - 1}") + kmUpdate(j)).mkString
    """WITH emb2 AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 37 = 0
      |)""".stripMargin + embCtes("emb2").replaceFirst("WITH ", ", ") +
      """, cents0 AS (
        |  SELECT vec_id AS cid, v AS cv FROM nrm WHERE vec_id % 97 = 0
        |)""".stripMargin +
      steps + kmAsg(iters + 1, s"cents$iters") +
      s"""
         |, cc AS (
         |  SELECT n.vec_id, n.v, n.nm, a.cell
         |  FROM nrm n JOIN asg${iters + 1} a USING (vec_id)
         |), dom AS (
         |  SELECT b.vec_id, count(*) AS nd
         |  FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_sum(list_transform(generate_series(1, 64),
         |          i -> a.v[i] * b.v[i])) / (a.nm * b.nm) + 1e-9, 6) >= 0.999
         |  GROUP BY 1
         |)
         |SELECT c.vec_id, c.cell, coalesce(d.nd, 0) AS n_dominators,
         |  d.nd IS NULL AS kept
         |FROM cc c LEFT JOIN dom d USING (vec_id)
         |ORDER BY vec_id""".stripMargin
  }

  // BM25 oracle: quantized idf (6 dp), per-term part as the identical
  // left-assoc double chain (all literals cast to double — DuckDB decimal
  // literals would silently switch the arithmetic to DECIMAL), per-doc sum
  // over term-ordered parts, 4-dp round before ranking.
  lazy val bm25Sql: String =
    bm25Ctes +
      """
        |SELECT qid, doc_id, score, rn FROM (
        |  SELECT qid, doc_id, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  lazy val bm25Ctes: String = {
    val qvals = Fixtures.bm25Queries
      .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
       |  FROM documents
       |), tfr AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
       |), dlr AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
       |), stats AS (
       |  SELECT CAST(count(*) AS double) AS n_docs,
       |         CAST(sum(dl) AS double) / count(*) AS avgdl
       |  FROM dlr
       |), idf AS (
       |  SELECT term, avgdl,
       |    round(ln(CAST(1.0 AS double) +
       |      (n_docs - CAST(df AS double) + CAST(0.5 AS double)) /
       |      (CAST(df AS double) + CAST(0.5 AS double))) + 1e-9, 6) AS idf
       |  FROM (SELECT term, count(*) AS df FROM tfr GROUP BY 1) CROSS JOIN stats
       |), q AS (
       |  SELECT DISTINCT qid,
       |    unnest(list_filter(string_split(qtext, ' '), w -> w <> '')) AS term
       |  FROM (VALUES $qvals) v(qid, qtext)
       |), parts AS (
       |  SELECT q.qid, tfr.doc_id, tfr.term,
       |    idf.idf * (CAST(tfr.tf AS double) * (CAST(1.2 AS double) + 1)) /
       |      (CAST(tfr.tf AS double) + CAST(1.2 AS double) *
       |        (CAST(0.25 AS double) +
       |         CAST(0.75 AS double) * CAST(dlr.dl AS double) / idf.avgdl)) AS part
       |  FROM tfr JOIN q USING (term) JOIN dlr USING (doc_id) JOIN idf USING (term)
       |), scored AS (
       |  SELECT qid, doc_id,
       |    round(list_sum(list(part ORDER BY term)) + 1e-9, 4) AS score
       |  FROM parts GROUP BY 1, 2
       |)""".stripMargin
  }

  /** 1/log₂(r+1) rank discounts for r = 1..10 as shared 4-dp literals —
    * the engine uses the identical constants, so NDCG has no runtime log.
    */
  def discCase(x: String): String =
    "CASE " + x + (Seq(1.0, 0.6309, 0.5, 0.4307, 0.3869,
      0.3562, 0.3333, 0.3155, 0.3010, 0.2891).zipWithIndex.map {
        case (d, i) => s" WHEN ${i + 1} THEN CAST($d AS double)"
      }.mkString) + " END"

  // PQ oracle: unrolled quantized-Lloyd per subspace + encode + ADC search.
  // Same engine-replay contract as kmeansSql: every distance is rounded to
  // 6 decimals before argmin, every centroid mean to 4 before reuse.
  def pqL2(a: String, c: String): String =
    s"round(list_sum(list_transform(generate_series(1, 16), i -> " +
      s"($a.sv[i] - $c.cv[i]) * ($a.sv[i] - $c.cv[i]))) + 1e-9, 6)"
  def pqAsgCte(j: Int, centsRel: String): String =
    s""", pasg$j AS (
       |  SELECT vec_id, sub, cell, sv FROM (
       |    SELECT a.vec_id, a.sub, c.cid AS cell, a.sv,
       |      row_number() OVER (PARTITION BY a.vec_id, a.sub
       |                         ORDER BY ${pqL2("a", "c")}, c.cid) AS rn
       |    FROM subs a JOIN $centsRel c ON a.sub = c.sub) WHERE rn = 1
       |)""".stripMargin
  def pqUpdCte(j: Int): String =
    s""", pcm$j AS (
       |  SELECT a.sub, a.cell, d.i AS dim, round(avg(a.sv[d.i]) + 1e-9, 4) AS mv
       |  FROM pasg$j a CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i) d
       |  GROUP BY 1, 2, 3
       |), pcents$j AS (
       |  SELECT sub, cell AS cid, list(mv ORDER BY dim) AS cv FROM pcm$j GROUP BY 1, 2
       |)""".stripMargin
  lazy val pqSql: String = {
    val iters = 2
    val steps = (1 to iters).map(j =>
      pqAsgCte(j, if (j == 1) "pcents0" else s"pcents${j - 1}") + pqUpdCte(j)).mkString
    """WITH e AS (
      |  SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
      |), subs AS (
      |  SELECT vec_id, s.sub,
      |         list_transform(generate_series(1, 16), i -> v[s.sub * 16 + i]) AS sv
      |  FROM e, (SELECT unnest(generate_series(0, 3)) AS sub) s
      |), pcents0 AS (
      |  SELECT sub, vec_id AS cid, sv AS cv FROM subs WHERE vec_id % 97 = 0
      |)""".stripMargin +
      steps + pqAsgCte(iters + 1, s"pcents$iters") +
      s""", lut AS (
         |  SELECT a.vec_id AS qid, a.sub, c.cid, ${pqL2("a", "c")} AS dist
         |  FROM subs a JOIN pcents$iters c ON a.sub = c.sub
         |  WHERE a.vec_id % 50 = 0
         |), adc AS (
         |  SELECT l.qid, p.vec_id AS eid, round(sum(l.dist) + 1e-9, 4) AS adist
         |  FROM pasg${iters + 1} p JOIN lut l ON l.sub = p.sub AND l.cid = p.cell
         |  GROUP BY 1, 2
         |)
         |SELECT qid, eid, adist, rn FROM (
         |  SELECT qid, eid, adist,
         |         row_number() OVER (PARTITION BY qid ORDER BY adist, eid) AS rn
         |  FROM adc WHERE qid != eid)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
  }

  // logistic-GD oracle: unrolled iterations; each wk is a one-row CTE of
  // quantized weights, each gradient one aggregate over the feature
  // relation crossed with the previous weights (identical margin operand
  // order; sum drift and exp ulps absorbed by the round-6 state contract)
  // ---- logistic-GD oracle machinery, parameterized by (tag, eta, iters,
  // training relation) so both the single trainer and the tuning grid
  // replay through the same unrolled-CTE generator ----
  /** σ(w·x) SQL for an arbitrary feature list (weights live in relation `w`
    * as b, w1..wn — the operand order matches Train.logisticGD's margin
    * fold exactly).
    */
  def gdSigF(feats: Seq[String], w: String) =
    "1.0 / (1.0 + exp(-(" + feats.zipWithIndex.foldLeft(s"$w.b") {
      case (acc, (f, j)) => s"$acc + $w.w${j + 1} * $f"
    } + ")))"
  /** Unrolled quantized-GD chain over `rel(featureCols..., y)` — one g/w CTE
    * pair per iteration, weights rounded to 6 decimals each step (the
    * engine-replay contract of Train.logisticGD).
    */
  def gdChainF(feats: Seq[String], tag: String, etaSql: String,
      iters: Int, rel: String): String = {
    def step(k: Int): String = {
      val pw = s"w$tag${k - 1}"
      val gCols = ("sum(p - y) AS g0" +: feats.zipWithIndex.map {
        case (f, j) => s"sum((p - y) * $f) AS g${j + 1}" }).mkString(", ")
      val wCols = (s"round(w.b - $etaSql * (g.g0 / g.n) + 1e-9, 6) AS b" +:
        feats.indices.map(j =>
          s"round(w.w${j + 1} - $etaSql * (g.g${j + 1} / g.n) + 1e-9, 6) AS w${j + 1}"))
        .mkString(", ")
      s""", g$tag$k AS (
         |  SELECT $gCols, count(*) AS n
         |  FROM (SELECT $rel.*, ${gdSigF(feats, "w")} AS p FROM $rel CROSS JOIN $pw w)
         |), w$tag$k AS (
         |  SELECT $wCols
         |  FROM $pw w CROSS JOIN g$tag$k g
         |)""".stripMargin
    }
    val zeros = ("cast(0.0 AS double) AS b" +:
      feats.indices.map(j => s"cast(0.0 AS double) AS w${j + 1}")).mkString(", ")
    s""", w${tag}0 AS (
       |  SELECT $zeros
       |)""".stripMargin + (1 to iters).map(step).mkString
  }
  def gdAccCteF(feats: Seq[String], name: String, wRel: String,
      rel: String): String =
    s""", $name AS (
       |  SELECT round(avg(CASE WHEN (p >= 0.5) = (y = 1.0)
       |                        THEN 1.0 ELSE 0.0 END) + 1e-9, 4) AS acc
       |  FROM (SELECT $rel.*, ${gdSigF(feats, "w")} AS p FROM $rel CROSS JOIN $wRel w)
       |)""".stripMargin
  // lazy: referenced from oracle strings evaluated during `all`'s init,
  // which runs before plain vals declared this far down are assigned
  lazy val gdTsFeats = Seq("f_len", "f_tool", "f_rate")
  def gdChain(tag: String, etaSql: String, iters: Int,
      rel: String): String = gdChainF(gdTsFeats, tag, etaSql, iters, rel)
  def gdAccCte(name: String, wRel: String, rel: String): String =
    gdAccCteF(gdTsFeats, name, wRel, rel)
  lazy val gdCf2Cte: String =
    """, cf2 AS (
      |  SELECT conv_id,
      |    avg(text_len) / 100.0 AS f_len,
      |    avg(is_tool) AS f_tool,
      |    cast(count(*) AS double) / 10.0 AS f_rate,
      |    CASE WHEN count(*) FILTER (WHERE role = 'user') >=
      |              count(*) FILTER (WHERE role = 'assistant')
      |         THEN 1.0 ELSE 0.0 END AS y
      |  FROM metrics GROUP BY conv_id
      |)""".stripMargin
  /** txt_quality_model oracle: quality-feature CTE + unrolled 3-iteration
    * quantized-GD replay + scored/gated corpus (FineWeb-Edu shape).
    */
  lazy val qualityModelSql: String = {
    val feats = Seq("f_mwl", "f_stop", "f_digit")
    val iters = 3
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
       |), b AS (
       |  SELECT doc_id, len(toks) AS n_tok,
       |    list_sum(list_transform(toks, x -> cast(length(x) AS double))) / len(toks) AS mean_len,
       |    cast(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS double) / len(toks) AS stop_ratio,
       |    cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS double) / length(text) AS digit_ratio
       |  FROM t
       |), qf AS (
       |  SELECT doc_id,
       |    round(mean_len + 1e-9, 4) / 10.0 AS f_mwl,
       |    round(stop_ratio + 1e-9, 4) AS f_stop,
       |    round(digit_ratio + 1e-9, 4) AS f_digit,
       |    CASE WHEN n_tok >= 50 THEN 1.0 ELSE 0.0 END AS y
       |  FROM b
       |)""".stripMargin +
      gdChainF(feats, "", "0.1", iters, "qf") +
      gdAccCteF(feats, "accq", s"w$iters", "qf") +
      s"""
         |SELECT doc_id, y, score, train_acc FROM (
         |  SELECT doc_id, y, score, a.acc AS train_acc,
         |         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
         |  FROM (
         |    SELECT doc_id, CAST(y AS int) AS y,
         |           round(${gdSigF(feats, "w")} + 1e-9, 6) AS score
         |    FROM qf CROSS JOIN w$iters w)
         |  CROSS JOIN accq a)
         |WHERE rn <= (SELECT count(*) * 2 // 5 FROM documents)
         |ORDER BY score DESC, doc_id""".stripMargin
  }

  lazy val trainSql: String = {
    val iters = 3
    cte + metricsCte + gdCf2Cte +
      gdChain("", "0.1", iters, "cf2") +
      gdAccCte("accq", s"w$iters", "cf2") +
      s"""
         |SELECT feature, w + 0.0 AS w, a.acc AS train_acc FROM (
         |  SELECT 'bias' AS feature, b AS w FROM w$iters
         |  UNION ALL SELECT 'f_len', w1 FROM w$iters
         |  UNION ALL SELECT 'f_tool', w2 FROM w$iters
         |  UNION ALL SELECT 'f_rate', w3 FROM w$iters)
         |CROSS JOIN accq a ORDER BY feature""".stripMargin
  }


  def bpeTrainCtes(nMerges: Int): String = {
    def stage(k: Int): String = {
      val prev = s"seg${k - 1}"
      s""", pc$k AS MATERIALIZED (
         |  SELECT pair, CAST(sum(c) AS BIGINT) AS pcnt FROM (
         |    SELECT cnt AS c,
         |      unnest(list_transform(generate_series(1, len(toks) - 1), i ->
         |        toks[cast(i AS int)] || ' ' || toks[cast(i + 1 AS int)])) AS pair
         |    FROM (SELECT cnt, list_filter(string_split(s, ' '), t -> t <> '') AS toks
         |          FROM $prev)
         |  ) GROUP BY 1
         |), best$k AS MATERIALIZED (
         |  SELECT pair, pcnt FROM pc$k ORDER BY pcnt DESC, pair LIMIT 1
         |), seg$k AS MATERIALIZED (
         |  SELECT word, cnt,
         |    replace(s,
         |      ' ' || (SELECT string_split(pair, ' ')[1] FROM best$k) || '  ' ||
         |             (SELECT string_split(pair, ' ')[2] FROM best$k) || ' ',
         |      ' ' || (SELECT replace(pair, ' ', '') FROM best$k) || ' ') AS s
         |  FROM $prev
         |)""".stripMargin
    }
    """WITH wc AS MATERIALIZED (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY 1
      |), seg0 AS MATERIALIZED (
      |  SELECT word, cnt,
      |    '  ' || array_to_string(list_transform(generate_series(1, length(word)),
      |      i -> substr(word, cast(i AS int), 1)), '  ') || '  ' AS s
      |  FROM wc
      |)""".stripMargin +
      (1 to nMerges).map(stage).mkString
  }

  lazy val bpeSql: String = {
    val nMerges = 8
    bpeTrainCtes(nMerges) +
      (1 to nMerges).map(k =>
        s"SELECT $k AS step, pair, replace(pair, ' ', '') AS merged, pcnt AS cnt FROM best$k")
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")
  }

  // encode = the train chain's best1..bestN merges folded into chained
  // replaces over each document's char segmentation — the same double-space
  // contract, so the replay is byte-identical (see TextAnalysis.bpeEncode)
  lazy val bpeEncodeSql: String = {
    val nMerges = 8
    def encStage(k: Int): String =
      s""", enc$k AS (
         |  SELECT doc_id, replace(s,
         |    ' ' || (SELECT string_split(pair, ' ')[1] FROM best$k) || '  ' ||
         |           (SELECT string_split(pair, ' ')[2] FROM best$k) || ' ',
         |    ' ' || (SELECT replace(pair, ' ', '') FROM best$k) || ' ') AS s
         |  FROM enc${k - 1}
         |)""".stripMargin
    bpeTrainCtes(nMerges) +
      """, enc0 AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      list_filter(string_split(text, ' '), w -> w <> ''),
        |      w -> '  ' || array_to_string(list_transform(
        |        generate_series(1, length(w)),
        |        i -> substr(w, cast(i AS int), 1)), '  ') || '  '), '') AS s
        |  FROM documents
        |)""".stripMargin +
      (1 to nMerges).map(encStage).mkString +
      s"""
         |SELECT doc_id,
         |  CAST(len(list_filter(string_split(s, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(s, ' '), t -> length(t) > 1)) AS BIGINT) AS n_merged,
         |  md5(s) AS tok_fp
         |FROM enc$nMerges ORDER BY doc_id""".stripMargin
  }

  lazy val tuningSql: String = {
    val chains = Fixtures.tuneCandidates.zipWithIndex.map { case ((eta, it), i) =>
      gdChain(s"c$i", eta.toString, it, "cftr") +
        gdAccCte(s"acctr$i", s"wc$i$it", "cftr") +
        gdAccCte(s"accva$i", s"wc$i$it", "cfva")
    }.mkString
    val rowsSel = Fixtures.tuneCandidates.zipWithIndex.map { case ((eta, it), i) =>
      s"  SELECT cast($eta AS double) AS eta, $it AS iters, " +
        s"t.acc AS train_acc, v.acc AS val_acc " +
        s"FROM acctr$i t CROSS JOIN accva$i v"
    }.mkString("\n  UNION ALL\n")
    cte + metricsCte + gdCf2Cte +
      """, cff AS (
        |  SELECT cf2.*, cast(CAST(list_sum(list_transform(generate_series(1, 8), d ->
        |      cast(strpos('0123456789abcdef', substr(md5(conv_id), cast(d AS int), 1)) - 1 AS bigint)
        |        * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) % 5 AS int) AS fold
        |  FROM cf2
        |), cftr AS (SELECT * FROM cff WHERE fold <> 0
        |), cfva AS (SELECT * FROM cff WHERE fold = 0
        |)""".stripMargin + chains +
      s"""
         |SELECT eta, iters, train_acc, val_acc,
         |  cast(row_number() OVER (ORDER BY val_acc DESC, eta, iters) AS int) AS rank
         |FROM (
         |$rowsSel
         |) ORDER BY rank""".stripMargin
  }

  // ---- SOM oracle: batch-SOM training replayed epoch-by-epoch (the same
  // quantized-iteration contract as kmeansSql — BMU dists rounded to 6
  // before argmin with lowest-id ties, per-BMU sums and updated codes to 4).
  // The Gaussian neighborhood weights are computed ONCE in Scala
  // (Som.weights, quantized to 6) and embedded as literals, so neither
  // engine evaluates exp() in the replay path. See operators/Som.scala for
  // the kohonen_som.cpp citations. ----
  lazy val somWtsCte: String = {
    val grid = Som.Grid(3, 3)
    val rows = (0 until 2).flatMap { m =>
      val wm = Som.weights(grid, m, epochs = 2, r0 = 1.5, r1 = 1.0)
      for (b <- 1 to grid.numCodes; c <- 1 to grid.numCodes)
        yield s"($m,$b,$c,${"%.6f".format(wm(b - 1)(c - 1))})"
    }
    s""", wts AS (
       |  SELECT m, b, c, cast(w AS double) AS w
       |  FROM (VALUES ${rows.mkString(",")}) AS t(m, b, c, w)
       |)""".stripMargin
  }
  def somDist(s: String, c: String): String =
    s"round(sqrt(list_sum(list_transform(generate_series(1, 3), j -> " +
      s"($s.v[j] - $c.cv[j]) * ($s.v[j] - $c.cv[j])))) + 1e-9, 6)"
  def somAsg(e: Int, codesRel: String): String =
    s""", sasg$e AS (
       |  SELECT sample_id, label, cid, dist FROM (
       |    SELECT s.sample_id, s.label, c.cid, ${somDist("s", "c")} AS dist,
       |      row_number() OVER (PARTITION BY s.sample_id
       |                         ORDER BY ${somDist("s", "c")}, c.cid) AS rn
       |    FROM sm s CROSS JOIN $codesRel c) WHERE rn = 1
       |)""".stripMargin
  def somUpd(e: Int): String =
    s""", ssum$e AS (
       |  SELECT a.cid AS b, d.j AS dim, round(sum(s.v[d.j]) + 1e-9, 4) AS sv,
       |         count(*) AS n
       |  FROM sasg$e a JOIN sm s USING (sample_id)
       |       CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j) d
       |  GROUP BY 1, 2
       |), scodes$e AS (
       |  SELECT cid, list(mv ORDER BY dim) AS cv FROM (
       |    SELECT w.c AS cid, s.dim,
       |      round(sum(w.w * s.sv) / sum(w.w * s.n) + 1e-9, 4) AS mv
       |    FROM ssum$e s JOIN wts w ON w.m = ${e - 1} AND w.b = s.b
       |    GROUP BY 1, 2)
       |  GROUP BY 1
       |)""".stripMargin

  /** Shared chain ending in `sasg3` (final sample→neuron map) and `spost`
    * (per-(neuron,label) prior + Bayes posterior). Mirrors Som.train /
    * Som.labelNeurons / Som.bayesPosterior expression-for-expression.
    */
  lazy val somChain: String = {
    val kd = "cast(k.k AS double)"
    val s1c = "coalesce(s1, cast(0.0 AS double))"
    val s2c = "coalesce(s2, cast(0.0 AS double))"
    val vr = s"(($s2c - $s1c * $s1c / $kd) / ($kd - 1.0))"
    val mean = s"($s1c / $kd)"
    cte + metricsCte +
      """, dm AS (
        |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
        |         round(avg(text_len) + 1e-9, 4) AS value,
        |         date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS i
        |  FROM metrics GROUP BY 1, 2, 4
        |), pv AS (
        |  SELECT conv_id,
        |    max(CASE WHEN i = 0 THEN value END) AS t0,
        |    max(CASE WHEN i = 1 THEN value END) AS t1,
        |    max(CASE WHEN i = 2 THEN value END) AS t2
        |  FROM dm GROUP BY 1
        |), sm AS (
        |  SELECT conv_id AS sample_id,
        |    cast(cast(substr(conv_id, 2, 6) AS bigint) % 3 + 1 AS int) AS label,
        |    [t0, t1, t2] AS v
        |  FROM pv
        |  WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
        |), scodes0 AS (
        |  SELECT cid, v AS cv FROM (
        |    SELECT row_number() OVER (ORDER BY sample_id) AS cid, v FROM sm)
        |  WHERE cid <= 9
        |)""".stripMargin +
      somWtsCte +
      somAsg(1, "scodes0") + somUpd(1) +
      somAsg(2, "scodes1") + somUpd(2) +
      somAsg(3, "scodes2") +
      s""", slab AS (
         |  SELECT cid AS id_neuron, label, count(*) AS cnt FROM sasg3 GROUP BY 1, 2
         |), stot AS (
         |  SELECT id_neuron, sum(cnt) AS tot FROM slab GROUP BY 1
         |), spri AS (
         |  SELECT l.id_neuron, l.label, l.cnt,
         |         cast(l.cnt AS double) / cast(t.tot AS double) AS prior_prob
         |  FROM slab l JOIN stot t USING (id_neuron)
         |), sgrid AS (
         |  SELECT id, (id - 1) % 3 + 1 AS gx, (id - 1) // 3 + 1 AS gy
         |  FROM (SELECT unnest(generate_series(1, 9)) AS id)
         |), snb AS (
         |  SELECT a.id AS id_neuron, b.id AS nbr FROM sgrid a JOIN sgrid b
         |  ON (a.gx - b.gx) * (a.gx - b.gx) + (a.gy - b.gy) * (a.gy - b.gy) = 4
         |), snk AS (
         |  SELECT id_neuron, count(*) AS k FROM snb GROUP BY 1
         |), snp AS (
         |  SELECT n.id_neuron, p.label, sum(p.prior_prob) AS s1,
         |         sum(p.prior_prob * p.prior_prob) AS s2
         |  FROM snb n JOIN spri p ON p.id_neuron = n.nbr GROUP BY 1, 2
         |), seta AS (
         |  SELECT id_neuron, abs(cast(0.9999999 AS double) - max(prior_prob)) AS eta
         |  FROM spri GROUP BY 1
         |), spost AS (
         |  SELECT p.id_neuron, p.label, p.cnt, p.prior_prob,
         |    CASE WHEN k.k IS NULL OR k.k < 2 THEN p.prior_prob
         |         ELSE ($vr / (e.eta + $vr)) * p.prior_prob +
         |              (e.eta / (e.eta + $vr)) * $mean END AS post_prob
         |  FROM spri p
         |  LEFT JOIN snk k ON k.id_neuron = p.id_neuron
         |  LEFT JOIN snp n ON n.id_neuron = p.id_neuron AND n.label = p.label
         |  JOIN seta e ON e.id_neuron = p.id_neuron
         |)""".stripMargin
  }
  lazy val somCleanSql: String =
    somChain +
      """
        |SELECT a.sample_id, a.cid AS id_neuron, a.label,
        |  round(p.prior_prob + 1e-9, 6) AS prior_prob,
        |  round(p.post_prob + 1e-9, 6) AS post_prob,
        |  CASE WHEN p.prior_prob >= cast(0.6 AS double)
        |         AND p.post_prob >= cast(0.6 AS double) THEN 'clean'
        |       WHEN p.prior_prob >= cast(0.6 AS double)
        |         AND p.post_prob < cast(0.6 AS double) THEN 'analyze'
        |       ELSE 'remove' END AS eval
        |FROM sasg3 a JOIN spost p ON p.id_neuron = a.cid AND p.label = a.label
        |ORDER BY a.sample_id""".stripMargin
  lazy val somEvalSql: String =
    somChain +
      """, snl AS (
        |  SELECT id_neuron, label AS neuron_label FROM (
        |    SELECT id_neuron, label,
        |      row_number() OVER (PARTITION BY id_neuron
        |        ORDER BY prior_prob DESC, post_prob DESC, label) AS rn
        |    FROM spost) WHERE rn = 1
        |), sev AS (
        |  SELECT nl.neuron_label AS cluster, a.label AS class, count(*) AS cnt
        |  FROM sasg3 a JOIN snl nl ON nl.id_neuron = a.cid GROUP BY 1, 2
        |)
        |SELECT cluster, class, cnt,
        |  round(cast(cnt AS double) / cast(tot AS double) * cast(100.0 AS double)
        |        + 1e-9, 4) AS mix_pct
        |FROM (SELECT *, sum(cnt) OVER (PARTITION BY cluster) AS tot FROM sev)
        |ORDER BY cluster, class""".stripMargin
  lazy val somUnderSql: String =
    somChain +
      """
        |SELECT sample_id, label, cid AS id_neuron, rk FROM (
        |  SELECT sample_id, label, cid,
        |    row_number() OVER (PARTITION BY cid ORDER BY sample_id) AS rk
        |  FROM sasg3)
        |WHERE rk <= 4 ORDER BY id_neuron, rk""".stripMargin

  // ---- reduce-imbalance oracle: the per-CLASS batch-SOM replay (codes
  // keyed by (label, cid) — every epoch CTE carries the class key, so which
  // classes qualify stays data-driven and the SQL scale-independent) + the
  // deterministic SMOTE cycle. Reuses the `wts` literal CTE: reduceImbalance
  // defaults (d=ceil(sqrt(30/4))=3 ⇒ 3×3, epochs=2, r0=1.5, r1=1.0) are
  // exactly somWtsCte's parameters. ----
  def uAsg(e: Int, codesRel: String): String =
    s""", uasg$e AS (
       |  SELECT sample_id, label, cid, dist FROM (
       |    SELECT s.sample_id, s.label, c.cid, ${somDist("s", "c")} AS dist,
       |      row_number() OVER (PARTITION BY s.sample_id
       |                         ORDER BY ${somDist("s", "c")}, c.cid) AS rn
       |    FROM u s JOIN $codesRel c ON c.label = s.label) WHERE rn = 1
       |)""".stripMargin
  def uUpd(e: Int): String =
    s""", usum$e AS (
       |  SELECT s.label, a.cid AS b, d.j AS dim,
       |         round(sum(s.v[d.j]) + 1e-9, 4) AS sv, count(*) AS n
       |  FROM uasg$e a JOIN u s USING (sample_id)
       |       CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j) d
       |  GROUP BY 1, 2, 3
       |), ucodes$e AS (
       |  SELECT label, cid, list(mv ORDER BY dim) AS cv FROM (
       |    SELECT s.label, w.c AS cid, s.dim,
       |      round(sum(w.w * s.sv) / sum(w.w * s.n) + 1e-9, 4) AS mv
       |    FROM usum$e s JOIN wts w ON w.m = ${e - 1} AND w.b = s.b
       |    GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2
       |)""".stripMargin
  lazy val imbalanceSql: String = {
    val mExpr = "cast(substr(conv_id, 2, 6) AS bigint) % 10"
    val knnDist = "round(sqrt(list_sum(list_transform(generate_series(1, 3), " +
      "j -> (a.v[j] - b.nv[j]) * (a.v[j] - b.nv[j])))) + 1e-9, 6)"
    cte + metricsCte +
      s""", dm AS (
         |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
         |         round(avg(text_len) + 1e-9, 4) AS value,
         |         date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS i
         |  FROM metrics GROUP BY 1, 2, 4
         |), pv AS (
         |  SELECT conv_id,
         |    max(CASE WHEN i = 0 THEN value END) AS t0,
         |    max(CASE WHEN i = 1 THEN value END) AS t1,
         |    max(CASE WHEN i = 2 THEN value END) AS t2
         |  FROM dm GROUP BY 1
         |), sm AS (
         |  SELECT conv_id AS sample_id,
         |    CASE WHEN $mExpr < 6 THEN 1 WHEN $mExpr < 8 THEN 2
         |         ELSE 3 END AS label,
         |    [t0, t1, t2] AS v
         |  FROM pv
         |  WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
         |), ccnt AS (
         |  SELECT label, count(*) AS n FROM sm GROUP BY 1
         |)""".stripMargin +
      somWtsCte +
      """, u AS (
        |  SELECT s.sample_id, s.label, s.v
        |  FROM sm s JOIN ccnt c USING (label) WHERE c.n >= 30
        |), ucodes0 AS (
        |  SELECT label, cid, cv FROM (
        |    SELECT label, row_number() OVER (PARTITION BY label
        |      ORDER BY sample_id) AS cid, v AS cv FROM u)
        |  WHERE cid <= 9
        |)""".stripMargin +
      uAsg(1, "ucodes0") + uUpd(1) +
      uAsg(2, "ucodes1") + uUpd(2) +
      uAsg(3, "ucodes2") +
      s""", ukeep AS (
         |  SELECT sample_id FROM (
         |    SELECT sample_id, row_number() OVER (PARTITION BY label, cid
         |      ORDER BY sample_id) AS rk FROM uasg3)
         |  WHERE rk <= 4
         |), o AS (
         |  SELECT s.sample_id, s.label, s.v, c.n
         |  FROM sm s JOIN ccnt c USING (label) WHERE c.n <= 25
         |), oknn AS (
         |  SELECT label, sample_id, nidx, v, nv FROM (
         |    SELECT a.label, a.sample_id, a.n, a.v, b.nn_id, b.nv, $knnDist AS dist,
         |      row_number() OVER (PARTITION BY a.label, a.sample_id
         |        ORDER BY $knnDist, b.nn_id) AS nidx
         |    FROM o a JOIN (SELECT label, sample_id AS nn_id, v AS nv FROM o) b
         |      ON b.label = a.label AND b.nn_id <> a.sample_id)
         |  WHERE nidx <= least(5, n - 1)
         |), oreps AS (
         |  SELECT label, n, sample_id,
         |    unnest(generate_series(1, cast(ceil(cast(25 AS double) / n) AS int))) AS r
         |  FROM o
         |), osyn AS (
         |  SELECT p.label, p.sample_id, p.r, p.n, k.v, k.nv,
         |    row_number() OVER (PARTITION BY p.label ORDER BY p.r, p.sample_id) AS rk
         |  FROM oreps p JOIN oknn k ON k.label = p.label
         |    AND k.sample_id = p.sample_id
         |    AND k.nidx = (p.r - 1) % least(5, p.n - 1) + 1
         |)
         |SELECT sample_id, label, src, f0, f1, f2 FROM (
         |  SELECT s.sample_id, s.label, 'under' AS src,
         |         s.v[1] AS f0, s.v[2] AS f1, s.v[3] AS f2
         |  FROM u s JOIN ukeep USING (sample_id)
         |  UNION ALL
         |  SELECT sample_id, label, 'orig', v[1], v[2], v[3] FROM o
         |  UNION ALL
         |  SELECT sample_id || ':s' || cast(r AS varchar), label, 'synth',
         |         round((v[1] + nv[1]) / cast(2.0 AS double) + 1e-9, 4),
         |         round((v[2] + nv[2]) / cast(2.0 AS double) + 1e-9, 4),
         |         round((v[3] + nv[3]) / cast(2.0 AS double) + 1e-9, 4)
         |  FROM osyn WHERE rk <= 25 - n
         |  UNION ALL
         |  SELECT s.sample_id, s.label, 'keep', v[1], v[2], v[3]
         |  FROM sm s JOIN ccnt c USING (label) WHERE c.n > 25 AND c.n < 30
         |) ORDER BY label, src, sample_id""".stripMargin
  }

  // temporal-segmentation oracle: the optimal-partitioning DP replayed one
  // step per recursion (cs = the C(t) values so far, bpl = the argmin
  // backpointers), then a second recursion walks the backpointers into
  // segments. All candidates are built from the same left-to-right prefix
  // folds and operand order as the Scala kernel → bit-identical, ties on
  // the smallest split (list_position = first occurrence).
  lazy val segmentSql: String = {
    val lambda = "500.0"
    val cand = s"cs[su] + (qp[t + 2] - qp[su] - (sp[t + 2] - sp[su]) * (sp[t + 2] - sp[su])" +
      s" / (t + 2 - su)) + $lambda"
    cte.replaceFirst("WITH ", "WITH RECURSIVE ") + metricsCte +
      s""", days AS (
         |  SELECT conv_id,
         |         date_diff('day', DATE '2024-01-01', cast(date_trunc('day', ts) AS date)) AS idx,
         |         avg(text_len) AS value
         |  FROM metrics GROUP BY 1, 2
         |), daysh AS (
         |  SELECT conv_id, idx, value +
         |    CASE WHEN cast(substring(conv_id, 2, 6) AS int) % 2 = 0 AND idx >= 14
         |         THEN 40.0 ELSE 0.0 END AS value
         |  FROM days
         |), sarr AS (
         |  SELECT conv_id, list(value ORDER BY idx) AS va,
         |         list(idx ORDER BY idx) AS ia, cast(count(*) AS int) AS n
         |  FROM daysh GROUP BY 1
         |), parr AS (
         |  SELECT conv_id, ia, n,
         |    list_prepend(0.0, list_transform(generate_series(1, n),
         |      i -> list_sum(va[1:i]))) AS sp,
         |    list_prepend(0.0, list_transform(generate_series(1, n),
         |      i -> list_sum(list_transform(va[1:i], x -> x * x)))) AS qp
         |  FROM sarr
         |), dp AS (
         |  SELECT conv_id, ia, n, sp, qp, 0 AS t,
         |         cast([0.0] AS double[]) AS cs, cast([] AS int[]) AS bpl
         |  FROM parr
         |  UNION ALL
         |  SELECT conv_id, ia, n, sp, qp, t + 1,
         |    list_append(cs, list_min(cands)),
         |    list_append(bpl, cast(list_position(cands, list_min(cands)) - 1 AS int))
         |  FROM (
         |    SELECT *, list_transform(generate_series(1, t + 1), su -> $cand) AS cands
         |    FROM dp WHERE t < n)
         |), bt AS (
         |  SELECT conv_id, ia, sp, bpl, n AS e FROM dp WHERE t = n
         |  UNION ALL
         |  SELECT conv_id, ia, sp, bpl, bpl[e] AS e FROM bt WHERE e > 0
         |), segsr AS (
         |  SELECT conv_id, ia, sp, bpl[e] + 1 AS a, e AS b FROM bt WHERE e > 0
         |)
         |SELECT conv_id,
         |  cast(row_number() OVER (PARTITION BY conv_id ORDER BY a) AS int) AS seg,
         |  ia[a] AS start_idx, ia[b] AS end_idx, b - a + 1 AS n_pts,
         |  round((sp[b + 1] - sp[a]) / (b - a + 1) + 1e-9, 4) AS seg_mean
         |FROM segsr ORDER BY conv_id, seg""".stripMargin
  }

  /** Shared tool-transition relation (the ts_tool_trans `cg` CTE) —
    * consumed by the PageRank and entropy-rate oracles.
    */
  lazy val toolTransCte =
    """, tp AS (
      |  SELECT conv_id,
      |    lag(tool) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
      |      AS from_tool,
      |    tool AS to_tool
      |  FROM (SELECT * FROM transcripts WHERE tool IS NOT NULL)
      |), cg AS (
      |  SELECT from_tool, to_tool, cast(count(*) AS bigint) AS n
      |  FROM tp WHERE from_tool IS NOT NULL GROUP BY 1, 2
      |)""".stripMargin

  /** Calibration cells CTE chain (mirrors Evaluation.calibrationCells →
    * binned → per-bin sums): odd-turn role-mix model probabilities vs the
    * even-turn majority-role truth, confidence floored to integer
    * ten-thousandths before any summation.
    */
  lazy val calibCte = cte +
    """, mh AS (
      |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
      |    CAST(count(CASE WHEN role = 'user' THEN 1 END) AS BIGINT) AS mu,
      |    CAST(count(CASE WHEN role = 'assistant' THEN 1 END) AS BIGINT) AS ma,
      |    CAST(count(CASE WHEN role = 'tool' THEN 1 END) AS BIGINT) AS mt,
      |    CAST(count(*) AS BIGINT) AS mn
      |  FROM transcripts WHERE turn_idx % 2 = 1 GROUP BY 1, 2
      |), hh AS (
      |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
      |    CAST(count(CASE WHEN role = 'user' THEN 1 END) AS BIGINT) AS hu,
      |    CAST(count(CASE WHEN role = 'assistant' THEN 1 END) AS BIGINT) AS ha,
      |    CAST(count(CASE WHEN role = 'tool' THEN 1 END) AS BIGINT) AS ht
      |  FROM transcripts WHERE turn_idx % 2 = 0 GROUP BY 1, 2
      |), clp AS (
      |  SELECT m.conv_id, m.bucket_ts,
      |    CAST(mu + 1 AS DOUBLE) / (mn + 3) AS p1,
      |    CAST(ma + 1 AS DOUBLE) / (mn + 3) AS p2,
      |    CAST(mt + 1 AS DOUBLE) / (mn + 3) AS p3,
      |    hu, ha, ht
      |  FROM mh m JOIN hh h
      |    ON m.conv_id = h.conv_id AND m.bucket_ts = h.bucket_ts
      |), cl AS (
      |  SELECT conv_id, bucket_ts, p1, p2, p3,
      |    CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1
      |         WHEN p2 >= p3 THEN 2 ELSE 3 END AS pred,
      |    CASE WHEN hu >= ha AND hu >= ht THEN 1
      |         WHEN ha >= ht THEN 2 ELSE 3 END AS truth,
      |    greatest(p1, p2, p3) AS conf
      |  FROM clp
      |), binned AS (
      |  SELECT *, CAST(least(floor(conf * 10), 9) AS INT) AS bin,
      |    CAST(floor(conf * 10000.0 + 0.5) AS BIGINT) AS uq
      |  FROM cl
      |), binsum AS (
      |  SELECT bin, CAST(count(*) AS BIGINT) AS n_cells,
      |    CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_correct,
      |    CAST(sum(uq) AS BIGINT) AS usum
      |  FROM binned GROUP BY 1
      |)""".stripMargin

  /** Centroid-silhouette oracle: the kmeansSql Lloyd replay (2 quantized
    * iterations) followed by rank-1/rank-2 centroid scoring and the
    * per-cluster integer-quantized silhouette means.
    */
  lazy val silhouetteSql: String = {
    val steps = (1 to 2).map(j =>
      kmAsg(j, if (j == 1) "cents0" else s"cents${j - 1}") + kmUpdate(j)).mkString
    embCtes("embeddings") +
      """, cents0 AS (
        |  SELECT vec_id AS cid, v AS cv FROM nrm WHERE vec_id % 97 = 0
        |)""".stripMargin +
      steps +
      s""", sc AS (
         |  SELECT n.vec_id, c.cid AS cell, ${kmCos("c")} AS cos,
         |    row_number() OVER (PARTITION BY n.vec_id
         |                       ORDER BY ${kmCos("c")} DESC, c.cid) AS rn
         |  FROM nrm n CROSS JOIN cents2 c
         |), t2 AS (
         |  SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN cos END) AS c1,
         |    min(CASE WHEN rn = 1 THEN cell END) AS cell,
         |    max(CASE WHEN rn = 2 THEN cos END) AS c2
         |  FROM sc WHERE rn <= 2 GROUP BY 1
         |), sil AS (
         |  SELECT cell, CAST(floor(
         |    CASE WHEN c2 IS NULL OR c2 >= 1.0 THEN 0.0
         |         ELSE (c1 - c2) / (1.0 - c2) END * 10000.0 + 0.5) AS BIGINT)
         |    AS sq
         |  FROM t2
         |)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(sq) AS DOUBLE) / (count(*) * 10000.0) + 1e-9, 4)
         |    AS mean_sil,
         |  round(min(sq) / 10000.0, 4) AS min_sil,
         |  round(max(sq) / 10000.0, 4) AS max_sil
         |FROM sil GROUP BY 1 ORDER BY cell""".stripMargin
  }

  /** PageRank oracle: the 10 quantized power-iteration steps unrolled as
    * CTE pairs (the kmeansSql unrolling pattern — a recursive CTE may
    * reference itself only once, and each step needs the previous rank
    * vector three times: dangling mass, edge contributions, node base).
    * Every float expression mirrors Graph.pageRank operand-for-operand.
    */
  lazy val pagerankSql: String = {
    val damp = 0.85
    val oneMinus = (1.0 - damp).toString
    val steps = (1 to 10).map { j =>
      val prev = if (j == 1) "r0" else s"r${j - 1}"
      s""", dang$j AS (
         |  SELECT COALESCE(CAST(sum(rq) AS BIGINT), 0) AS dq
         |  FROM $prev LEFT JOIN outs USING (tool) WHERE out_n IS NULL
         |), ctr$j AS (
         |  SELECT e.to_tool AS tool,
         |    CAST(sum(CAST(round(p.rq * e.pq / 1000000.0) AS BIGINT))
         |      AS BIGINT) AS csum
         |  FROM $prev p JOIN edges e ON p.tool = e.from_tool GROUP BY 1
         |), r$j AS MATERIALIZED (
         |  SELECT n.tool, CAST(floor(
         |    round($oneMinus / nn.n + $damp * (COALESCE(c.csum, 0) +
         |      CAST(round(CAST(g.dq AS DOUBLE) / nn.n) AS BIGINT)) / 10000.0
         |      + 1e-9, 4) * 10000.0 + 0.5) AS BIGINT) AS rq
         |  FROM nodes n CROSS JOIN nn CROSS JOIN dang$j g
         |  LEFT JOIN ctr$j c ON c.tool = n.tool
         |)""".stripMargin
    }.mkString
    cte + toolTransCte +
      """, nodes AS MATERIALIZED (
        |  SELECT from_tool AS tool FROM cg UNION SELECT to_tool FROM cg
        |), outs AS MATERIALIZED (
        |  SELECT from_tool AS tool, CAST(sum(n) AS BIGINT) AS out_n
        |  FROM cg GROUP BY 1
        |), edges AS MATERIALIZED (
        |  SELECT cg.from_tool, cg.to_tool,
        |    CAST(round(cg.n * 1000000.0 / o.out_n) AS BIGINT) AS pq
        |  FROM cg JOIN outs o ON cg.from_tool = o.tool
        |), nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS MATERIALIZED (
        |  SELECT tool, CAST(round(10000.0 / nn.n) AS BIGINT) AS rq
        |  FROM nodes CROSS JOIN nn
        |)""".stripMargin + steps +
      """
        |SELECT r.tool, COALESCE(o.out_n, 0) AS out_n,
        |  r.rq / 10000.0 AS "rank"
        |FROM r10 r LEFT JOIN outs o ON o.tool = r.tool
        |ORDER BY r.tool""".stripMargin
  }

  /** Feature-hashing near-dup oracle: u32(md5(word)) mod 32 bucket
    * vectors over the planted corpus, top-3-bucket blocking key, HUGEINT
    * cosine-threshold cross-multiplication (mirrors
    * Dedup.featureHashPairs at dims=32, τ=0.97).
    */
  lazy val featureHashSql: String =
    plantedCte +
      s""", tokfh AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs
         |), sigfh AS (
         |  SELECT doc_id, ${u32Sql("word")} % 32 AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, word FROM tokfh WHERE word != '')
         |  GROUP BY 1, 2
         |), ds AS (
         |  SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS n2,
         |    string_agg(CAST(CASE WHEN rn <= 3 THEN bucket END AS VARCHAR),
         |               ':' ORDER BY rn) AS block
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |          ORDER BY cnt DESC, bucket ASC) AS rn FROM sigfh)
         |  GROUP BY 1
         |), candf AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n2 AS n2a, b.n2 AS n2b
         |  FROM ds a JOIN ds b ON a.block = b.block AND a.doc_id < b.doc_id
         |), dotsf AS (
         |  SELECT c.id1, c.id2, c.n2a, c.n2b,
         |    CAST(sum(s1.cnt * s2.cnt) AS BIGINT) AS dot
         |  FROM candf c
         |  JOIN sigfh s1 ON s1.doc_id = c.id1
         |  JOIN sigfh s2 ON s2.doc_id = c.id2 AND s2.bucket = s1.bucket
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT id1, id2, dot, n2a, n2b,
         |  round(CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * n2b)
         |        + 1e-9, 4) AS cos
         |FROM dotsf
         |WHERE CAST(dot AS HUGEINT) * dot * 10000 >=
         |      CAST(n2a AS HUGEINT) * n2b * 9409
         |ORDER BY id1, id2""".stripMargin

  /** Matryoshka recall oracle: full-dim brute-force truth + per-prefix-d
    * candidate top-10 (same 6-dp rounded cosine and eid tie-break as the
    * Spark bruteTopK), hits joined on (qid, eid).
    */
  lazy val mrlSql: String = {
    def topkCte(tag: String, d: Int, full: Boolean): String = {
      val cos =
        if (full)
          "round(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * e.v[i]))" +
            " / (q.nm * e.nm) + 1e-9, 6)"
        else
          s"round(list_sum(list_transform(generate_series(1, $d), i -> q.v[i] * e.v[i]))" +
            s" / (sqrt(list_sum(list_transform(q.v[1:$d], x -> x * x)))" +
            s" * sqrt(list_sum(list_transform(e.v[1:$d], x -> x * x)))) + 1e-9, 6)"
      s""", tk$tag AS (
         |  SELECT qid, eid FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS eid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $cos DESC, e.vec_id) AS rn
         |    FROM qset q JOIN nrm e ON e.vec_id <> q.vec_id)
         |  WHERE rn <= 10
         |)""".stripMargin
    }
    def hitRow(d: Int): String =
      s"""SELECT $d AS dim, nq.nq AS n_queries,
         |  CAST(h.n_hits AS BIGINT) AS n_hits,
         |  round(CAST(h.n_hits AS DOUBLE) / (nq.nq * 10) + 1e-9, 4)
         |    AS recall
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |      FROM tkd$d c JOIN tkfull t
         |        ON t.qid = c.qid AND t.eid = c.eid) h
         |CROSS JOIN nq""".stripMargin
    embCtes("embeddings") +
      """, qset AS (SELECT vec_id, v, nm FROM nrm WHERE vec_id % 97 = 0)""" +
      topkCte("full", 64, full = true) +
      Seq(8, 16, 32).map(d => topkCte(s"d$d", d, full = false)).mkString +
      """, nq AS (
        |  SELECT CAST(count(DISTINCT qid) AS BIGINT) AS nq FROM tkfull
        |)
        |""".stripMargin +
      Seq(8, 16, 32).map(hitRow).mkString("", "\nUNION ALL\n", "\nORDER BY dim")
  }

  /** Cluster purity/NMI oracle: the kmeansSql Lloyd replay's final
    * assignment joined to the ground-truth labels, entropies/MI via the
    * quantized-ln integer-sum contract on the bounded contingency grid.
    */
  lazy val puritySql: String = {
    val steps = (1 to 2).map(j =>
      kmAsg(j, if (j == 1) "cents0" else s"cents${j - 1}") + kmUpdate(j)).mkString
    embCtes("embeddings") +
      """, cents0 AS (
        |  SELECT vec_id AS cid, v AS cv FROM nrm WHERE vec_id % 97 = 0
        |)""".stripMargin +
      steps + kmAsg(3, "cents2") +
      """, cl3 AS (
        |  SELECT a.cell, e.label, CAST(count(*) AS BIGINT) AS o
        |  FROM asg3 a JOIN embeddings e USING (vec_id) GROUP BY 1, 2
        |), bc AS (
        |  SELECT cell, CAST(sum(o) AS BIGINT) AS r,
        |    CAST(max(o) AS BIGINT) AS mx
        |  FROM cl3 GROUP BY 1
        |), bl AS (
        |  SELECT label, CAST(sum(o) AS BIGINT) AS c FROM cl3 GROUP BY 1
        |), tt3 AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT cell) AS BIGINT) AS ncell,
        |    CAST(count(DISTINCT label) AS BIGINT) AS nlab
        |  FROM cl3
        |), ms AS (
        |  SELECT CAST(sum(o * CAST(round(
        |      ln(CAST(o AS DOUBLE) * nn / (CAST(r AS DOUBLE) * c))
        |      * 10000.0) AS BIGINT)) AS BIGINT) AS miq
        |  FROM cl3 JOIN bc USING (cell) JOIN bl USING (label)
        |       CROSS JOIN tt3
        |), hcx AS (
        |  SELECT CAST(sum(r * CAST(round(ln(CAST(nn AS DOUBLE) / r)
        |      * 10000.0) AS BIGINT)) AS BIGINT) AS hcq,
        |    CAST(sum(mx) AS BIGINT) AS pure
        |  FROM bc CROSS JOIN tt3
        |), hlx AS (
        |  SELECT CAST(sum(c * CAST(round(ln(CAST(nn AS DOUBLE) / c)
        |      * 10000.0) AS BIGINT)) AS BIGINT) AS hlq
        |  FROM bl CROSS JOIN tt3
        |)
        |SELECT nn AS n, ncell AS n_cells, nlab AS n_labels,
        |  round(CAST(pure AS DOUBLE) / nn + 1e-9, 4) AS purity,
        |  round(CAST(miq AS DOUBLE) / (nn * 10000.0) + 1e-9, 4) AS mi,
        |  round(CAST(hcq AS DOUBLE) / (nn * 10000.0) + 1e-9, 4) AS h_cell,
        |  round(CAST(hlq AS DOUBLE) / (nn * 10000.0) + 1e-9, 4) AS h_label,
        |  round(CAST(miq AS DOUBLE)
        |        / (sqrt(CAST(hcq AS DOUBLE) * hlq) + 1e-9) + 1e-9, 4)
        |    AS nmi
        |FROM tt3 CROSS JOIN ms CROSS JOIN hcx CROSS JOIN hlx""".stripMargin
  }

  lazy val ivfCtes =
    """, cents AS (
      |  SELECT vec_id AS cid, v AS cv, nm AS cn FROM nrm WHERE vec_id % 97 = 0
      |), asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT n.vec_id, c.cid AS cell,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        round(list_sum(list_transform(generate_series(1, 64), i -> c.cv[i] * n.v[i]))
      |              / (c.cn * n.nm) + 1e-9, 6) DESC, c.cid) AS rn
      |    FROM nrm n CROSS JOIN cents c) WHERE rn = 1
      |)""".stripMargin
}
