package graft.driver

import org.apache.spark.sql.functions._
import graft.operators.{Accuracy, Classify, Evaluation, Extract, Forecast, Imbalance, KernelWindows, Mixture, Predictors, Probs, Regularize, Select, Som, Summary, Train}
import Fixtures._
import OracleSql._

/** Evaluation and ML support: probability post-processing, training,
  * SOM/imbalance sample handling, sampling designs, accuracy and
  * calibration.
  */
private[driver] object EvaluationQueries {

  val all: Seq[DriverQuery] = Seq(
    // §2.2 deterministic per-role stratified sampling (sits_sample)
    DriverQuery("ts_sample_strat", ((s, dir) =>
      Select.sampleByRole(transcripts(s, dir),
        Map("user" -> 37, "assistant" -> 11, "tool" -> 63))
        .orderBy("conv_id", "turn_idx")),
      (cte +
        """
          |SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts
          |WHERE (cast(substring(conv_id, 2, 6) AS bigint) * 2654435761 + turn_idx) % 100 <
          |  CASE role WHEN 'user' THEN 37 WHEN 'assistant' THEN 11 WHEN 'tool' THEN 63 ELSE -1 END
          |ORDER BY conv_id, turn_idx""".stripMargin)),
    // §2.7 label classification (first-max argmax) + uncertainty measures
    // (entropy/margin/least) over per-(conv,day) role-mix probabilities
    DriverQuery("ts_probs_label", ((s, dir) => {
      val p = Probs.roleMix(transcripts(s, dir))
      Probs.label(p).join(Probs.uncertainty(p), Seq("conv_id", "bucket_ts"))
        .select(col("conv_id"), col("bucket_ts"), col("p1"), col("p2"), col("p3"),
          col("label"), col("entropy"), col("margin"), col("least"))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + probsCte +
        """
          |SELECT conv_id, bucket_ts, p1, p2, p3,
          |  CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS label,
          |  round(-(p1 * ln(p1) + p2 * ln(p2) + p3 * ln(p3)) / ln(3.0) + 1e-9, 4) AS entropy,
          |  round(1.0 - (greatest(p1, p2, p3) - (p1 + p2 + p3 - greatest(p1, p2, p3) - least(p1, p2, p3))) + 1e-9, 4) AS margin,
          |  round(1.0 - greatest(p1, p2, p3) + 1e-9, 4) AS least
          |FROM probs ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.7 Bayesian smoothing of the p1-logit day series (mirrored window,
    // top-fraction prior, posterior shrinkage — smooth_bayes.cpp semantics)
    DriverQuery("ts_smooth_bayes", ((s, dir) => {
      val lg = Probs.roleMix(transcripts(s, dir))
        .select(col("conv_id"), col("bucket_ts"),
          log(col("p1") / (lit(1.0) - col("p1"))).as("logit"))
      Probs.bayesSmooth(lg, k = 2, fraction = 0.75, smoothness = 0.8)
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + probsCte +
        """, lg AS (
          |  SELECT conv_id, bucket_ts, ln(p1 / (1 - p1)) AS logit FROM probs
          |), larr AS (
          |  SELECT conv_id, list(bucket_ts ORDER BY bucket_ts) AS tsv,
          |         list(logit ORDER BY bucket_ts) AS vals
          |  FROM lg GROUP BY conv_id
          |), lidx AS (
          |  SELECT conv_id, tsv, vals, len(vals) AS n,
          |         unnest(generate_series(1, len(vals))) AS i
          |  FROM larr
          |), lwin AS (
          |  SELECT conv_id, tsv[i] AS bucket_ts, vals[i] AS x0,
          |    list_transform(generate_series(-2, 2), j ->
          |      vals[greatest(0, least(n - 1,
          |           CASE WHEN i - 1 + j < 0 THEN -(i - 1 + j) - 1
          |                WHEN i - 1 + j >= n THEN 2 * n - (i - 1 + j) - 1
          |                ELSE i - 1 + j END)) + 1]) AS w
          |  FROM lidx
          |), lhigh AS (
          |  SELECT conv_id, bucket_ts, x0, list_slice(list_sort(w, 'DESC'), 1, 4) AS h FROM lwin
          |), lstat AS (
          |  SELECT conv_id, bucket_ts, x0,
          |    list_sum(h) / 4 AS m0,
          |    (list_sum(list_transform(h, x -> x * x)) - list_sum(h) * list_sum(h) / 4) / 3 AS s0
          |  FROM lhigh
          |)
          |SELECT conv_id, bucket_ts,
          |  round(CASE WHEN s0 < 1e-4 THEN m0
          |             ELSE (s0 / (s0 + 0.8)) * x0 + (1 - s0 / (s0 + 0.8)) * m0 END + 1e-9, 4) + 0.0 AS b_v
          |FROM lstat ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.7 ensemble combine: weighted average of two probability cubes
    DriverQuery("ts_combine", ((s, dir) => {
      val a = Probs.roleMix(transcripts(s, dir))
      val b = Probs.roleMix(transcripts(s, dir).filter(col("turn_idx") % 2 === 0))
      Probs.combine(a, b, 0.6, 0.4).orderBy("conv_id", "bucket_ts")
    }),
      (cte + probsCte +
        """, probsB AS (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
          |    cast(count(*) FILTER (WHERE role = 'user') + 1 AS double) / (count(*) + 3) AS q1,
          |    cast(count(*) FILTER (WHERE role = 'assistant') + 1 AS double) / (count(*) + 3) AS q2,
          |    cast(count(*) FILTER (WHERE role = 'tool') + 1 AS double) / (count(*) + 3) AS q3
          |  FROM transcripts WHERE turn_idx % 2 = 0 GROUP BY 1, 2
          |)
          |SELECT a.conv_id, a.bucket_ts,
          |  round((a.p1 * 0.6 + b.q1 * 0.4) / 1.0 + 1e-9, 4) AS p1,
          |  round((a.p2 * 0.6 + b.q2 * 0.4) / 1.0 + 1e-9, 4) AS p2,
          |  round((a.p3 * 0.6 + b.q3 * 0.4) / 1.0 + 1e-9, 4) AS p3
          |FROM probs a JOIN probsB b ON a.conv_id = b.conv_id AND a.bucket_ts = b.bucket_ts
          |ORDER BY a.conv_id, a.bucket_ts""".stripMargin)),
    // §2.7 rule-based reclassification (first matching rule wins)
    DriverQuery("ts_reclassify", ((s, dir) => {
      val labeled = Probs.label(Probs.roleMix(transcripts(s, dir)))
      Probs.reclassify(labeled, Seq(
        (col("label") === 3 && col("p3") < 0.5, 2),
        (col("label") === 1 && col("p1") >= 0.6, 4)))
        .select(col("conv_id"), col("bucket_ts"), col("label"), col("label_new"))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + probsCte +
        """, labeled AS (
          |  SELECT conv_id, bucket_ts, p1, p2, p3,
          |    CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS label
          |  FROM probs
          |)
          |SELECT conv_id, bucket_ts, label,
          |  CASE WHEN label = 3 AND p3 < 0.5 THEN 2
          |       WHEN label = 1 AND p1 >= 0.6 THEN 4
          |       ELSE label END AS label_new
          |FROM labeled ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.9 predictors pivot: wide per-conv matrix of the first 7 day-means
    DriverQuery("ts_predictors", ((s, dir) => {
      val series = metrics(s, dir)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
        .agg(round(avg("text_len") + lit(1e-9), 4).as("value"))
      Predictors.pivotWide(series,
        datediff(col("bucket_ts"), lit("2024-01-01").cast("date")), k = 7)
        .orderBy("conv_id")
    }),
      (cte + metricsCte +
        """, dm AS (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
          |         round(avg(text_len) + 1e-9, 4) AS value,
          |         date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS i
          |  FROM metrics GROUP BY 1, 2, 4
          |)
          |SELECT conv_id,
          |  max(CASE WHEN i = 0 THEN value END) AS t0,
          |  max(CASE WHEN i = 1 THEN value END) AS t1,
          |  max(CASE WHEN i = 2 THEN value END) AS t2,
          |  max(CASE WHEN i = 3 THEN value END) AS t3,
          |  max(CASE WHEN i = 4 THEN value END) AS t4,
          |  max(CASE WHEN i = 5 THEN value END) AS t5,
          |  max(CASE WHEN i = 6 THEN value END) AS t6
          |FROM dm GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // §2.9 Q02/Q98 min-max normalization with clamping
    DriverQuery("ts_normalize", ((s, dir) => {
      val series = metrics(s, dir)
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
        .agg(round(avg("text_len") + lit(1e-9), 4).as("value"))
      Predictors.normalizeQ(series).orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
        """, dm AS (
          |  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
          |         round(avg(text_len) + 1e-9, 4) AS value
          |  FROM metrics GROUP BY 1, 2
          |), st AS (
          |  SELECT quantile_cont(value, 0.02) AS q02, quantile_cont(value, 0.98) AS q98 FROM dm
          |)
          |SELECT conv_id, bucket_ts,
          |  round(greatest(1e-4, least(1.0, (value - q02) / (q98 - q02))) + 1e-9, 4) AS v_norm
          |FROM dm, st ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.9 sits_reduce_imbalance (SMOTE half): one synthetic midpoint
    // sample per member of every class smaller than the majority class,
    // neighbor = within-class L2-nearest (deterministic contract)
    DriverQuery("ts_smote", ((s, dir) => {
      val lab = substring(col("conv_id"), 2, 6).cast("int") % 10
      val feats = Regularize.withMetrics(transcripts(s, dir))
        .groupBy(col("conv_id"))
        .agg((avg("text_len") / 100.0).as("f_len"), avg("is_tool").as("f_tool"),
          (count(lit(1)) / 10.0).as("f_rate"))
        .withColumn("label", when(lab < 6, 1).when(lab < 9, 2).otherwise(3))
      Imbalance.smoteOversample(feats, Seq("f_len", "f_tool", "f_rate"))
        .orderBy("conv_id")
    }),
      // dist parity: ((d1²+d2²)+d3²) left-assoc == the codegen ArrayL2 fold
      (cte + metricsCte +
        """, cf AS (
          |  SELECT conv_id,
          |    avg(text_len) / 100.0 AS f_len,
          |    avg(is_tool) AS f_tool,
          |    cast(count(*) AS double) / 10.0 AS f_rate,
          |    CASE WHEN cast(substring(conv_id, 2, 6) AS int) % 10 < 6 THEN 1
          |         WHEN cast(substring(conv_id, 2, 6) AS int) % 10 < 9 THEN 2
          |         ELSE 3 END AS label
          |  FROM metrics GROUP BY conv_id
          |), ccnt AS (
          |  SELECT label, count(*) AS n FROM cf GROUP BY 1
          |), mino AS (
          |  SELECT label FROM ccnt WHERE n < (SELECT max(n) FROM ccnt)
          |), prs AS (
          |  SELECT a.conv_id, b.conv_id AS nn_id, a.label,
          |    a.f_len AS af_len, a.f_tool AS af_tool, a.f_rate AS af_rate,
          |    b.f_len AS bf_len, b.f_tool AS bf_tool, b.f_rate AS bf_rate,
          |    round((a.f_len - b.f_len) * (a.f_len - b.f_len)
          |        + (a.f_tool - b.f_tool) * (a.f_tool - b.f_tool)
          |        + (a.f_rate - b.f_rate) * (a.f_rate - b.f_rate) + 1e-9, 6) AS dist
          |  FROM cf a JOIN cf b ON a.label = b.label AND a.conv_id != b.conv_id
          |  WHERE a.label IN (SELECT label FROM mino)
          |)
          |SELECT conv_id, nn_id, label,
          |  round((af_len + bf_len) / 2.0 + 1e-9, 4) AS f_len,
          |  round((af_tool + bf_tool) / 2.0 + 1e-9, 4) AS f_tool,
          |  round((af_rate + bf_rate) / 2.0 + 1e-9, 4) AS f_rate
          |FROM (SELECT *, row_number() OVER (PARTITION BY label, conv_id
          |                                   ORDER BY dist, nn_id) AS rn
          |      FROM prs)
          |WHERE rn = 1 ORDER BY conv_id""".stripMargin)),
    // §2.9 minimal in-engine trainer: batch logistic GD over the per-conv
    // feature matrix (quantized weight updates -> oracle-replayable);
    // heavy trainers (ranger/xgboost/torch) remain external by design
    DriverQuery("ts_train_logit", ((s, dir) => {
      val feats = Regularize.withMetrics(transcripts(s, dir))
        .groupBy(col("conv_id"))
        .agg((avg("text_len") / 100.0).as("f_len"), avg("is_tool").as("f_tool"),
          (count(lit(1)) / 10.0).as("f_rate"),
          when(sum(when(col("role") === "user", 1).otherwise(0)) >=
            sum(when(col("role") === "assistant", 1).otherwise(0)), 1.0)
            .otherwise(0.0).as("y"))
      Train.logisticGDRelation(feats, Seq("f_len", "f_tool", "f_rate"), "y")
        .orderBy("feature")
    }),
      // unrolled quantized-GD replay — see trainSql builders
      trainSql),
    // §2.9 sits_tuning analog: deterministic (eta, iters) grid over the
    // in-engine trainer, content-hash holdout, ranked by validation accuracy
    DriverQuery("ts_tuning", ((s, dir) => {
      val feats = Regularize.withMetrics(transcripts(s, dir))
        .groupBy(col("conv_id"))
        .agg((avg("text_len") / 100.0).as("f_len"), avg("is_tool").as("f_tool"),
          (count(lit(1)) / 10.0).as("f_rate"),
          when(sum(when(col("role") === "user", 1).otherwise(0)) >=
            sum(when(col("role") === "assistant", 1).otherwise(0)), 1.0)
            .otherwise(0.0).as("y"))
      Train.gridSearch(feats, Seq("f_len", "f_tool", "f_rate"), "y",
        tuneCandidates).orderBy("rank")
    }),
      tuningSql),
    // §2.9 sits_som_map + sits_som_clean_samples: batch-SOM sample-quality
    // tags (clean/analyze/remove) from per-neuron prior + Bayes posterior
    DriverQuery("ts_som_clean", ((s, dir) => {
      val (mapped, post) = somMapped(s, dir)
      Som.cleanSamples(mapped, post, priorT = 0.6, postT = 0.6)
        .orderBy("sample_id")
    }),
      // batch-SOM epoch replay with literal Gaussian weights — see somChain
      somCleanSql),
    // §2.9 sits_som_evaluate_cluster: per-cluster class mixture percentages
    DriverQuery("ts_som_eval", ((s, dir) => {
      val (mapped, post) = somMapped(s, dir)
      Som.evaluateCluster(mapped, post)
        .select(col("cluster"), col("class"), col("cnt"),
          round(col("mixture_percentage") + lit(1e-9), 4).as("mix_pct"))
        .orderBy("cluster", "class")
    }),
      somEvalSql),
    // §2.9 .som_undersample: per-neuron sample-budget slice
    DriverQuery("ts_som_under", ((s, dir) => {
      val (mapped, _) = somMapped(s, dir)
      Som.undersample(mapped, n = 4).orderBy("id_neuron", "rk")
    }),
      somUnderSql),
    // §2.9 sits_reduce_imbalance: per-class SOM undersample (n ≥ 30) +
    // SMOTE oversample-to-25 (n ≤ 25) over a skewed synthetic label
    DriverQuery("ts_reduce_imbalance", ((s, dir) =>
      Imbalance.reduceImbalance(imbPred(s, dir), nOver = 25, nUnder = 30)
        .orderBy("label", "src", "sample_id")),
      // per-class SOM replay + deterministic SMOTE cycle — see imbalanceSql
      imbalanceSql),
    // §2.9 sits_accuracy: confusion matrix + overall accuracy
    DriverQuery("ts_accuracy", ((s, dir) => {
      val labeled = Probs.reclassify(Probs.label(Probs.roleMix(transcripts(s, dir))), Seq(
        (col("label") === 3 && col("p3") < 0.5, 2),
        (col("label") === 1 && col("p1") >= 0.6, 4)))
      Accuracy.confusion(labeled, "label", "label_new").orderBy("actual", "pred")
    }),
      (cte + probsCte +
        """, labeled AS (
          |  SELECT conv_id, bucket_ts, p1, p2, p3,
          |    CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS label
          |  FROM probs
          |), rl AS (
          |  SELECT label,
          |    CASE WHEN label = 3 AND p3 < 0.5 THEN 2
          |         WHEN label = 1 AND p1 >= 0.6 THEN 4
          |         ELSE label END AS label_new
          |  FROM labeled
          |), cm AS (
          |  SELECT label AS actual, label_new AS pred, count(*) AS n FROM rl GROUP BY 1, 2
          |)
          |SELECT actual, pred, n,
          |  round(n / sum(n) OVER () + 1e-9, 4) AS frac,
          |  round(sum(CASE WHEN actual = pred THEN n ELSE 0 END) OVER () / sum(n) OVER () + 1e-9, 4) AS overall_acc
          |FROM cm ORDER BY actual, pred""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "confusion totals over the label-bounded confusion cells"))),
    // §2.9 per-class accuracy + kappa (caret confusionMatrix statistics):
    // same reclassified labels as ts_accuracy, per-class UA/PA, integer-pe
    // kappa
    DriverQuery("ts_accuracy_class", ((s, dir) => {
      val labeled = Probs.reclassify(Probs.label(Probs.roleMix(transcripts(s, dir))), Seq(
        (col("label") === 3 && col("p3") < 0.5, 2),
        (col("label") === 1 && col("p1") >= 0.6, 4)))
      Accuracy.classAccuracy(labeled, "label", "label_new").orderBy("class")
    }),
      (cte + probsCte +
        """, labeled AS (
          |  SELECT conv_id, bucket_ts, p1, p2, p3,
          |    CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS label
          |  FROM probs
          |), rl AS (
          |  SELECT label,
          |    CASE WHEN label = 3 AND p3 < 0.5 THEN 2
          |         WHEN label = 1 AND p1 >= 0.6 THEN 4
          |         ELSE label END AS label_new
          |  FROM labeled
          |), cm AS (
          |  SELECT label_new AS p, label AS a, CAST(count(*) AS bigint) AS n
          |  FROM rl GROUP BY 1, 2
          |), byp AS (
          |  SELECT p AS class, CAST(sum(n) AS bigint) AS n_pred,
          |         CAST(sum(CASE WHEN p = a THEN n ELSE 0 END) AS bigint) AS n_correct
          |  FROM cm GROUP BY 1
          |), byr AS (
          |  SELECT a AS class, CAST(sum(n) AS bigint) AS n_ref FROM cm GROUP BY 1
          |), cls AS (
          |  SELECT coalesce(byr.class, byp.class) AS class,
          |         coalesce(n_pred, 0) AS n_pred, coalesce(n_ref, 0) AS n_ref,
          |         coalesce(n_correct, 0) AS n_correct
          |  FROM byr FULL JOIN byp ON byr.class = byp.class
          |), tot AS (
          |  SELECT CAST(sum(n_ref) AS bigint) AS nn,
          |         CAST(sum(n_correct) AS bigint) AS diag,
          |         CAST(sum(n_pred * n_ref) AS bigint) AS pe_num
          |  FROM cls
          |)
          |SELECT class, n_pred, n_ref, n_correct,
          |  round(n_correct / nullif(n_pred, 0) + 1e-9, 4) AS user_acc,
          |  round(n_correct / nullif(n_ref, 0) + 1e-9, 4) AS prod_acc,
          |  round(cast(diag AS double) / nn + 1e-9, 4) AS overall_acc,
          |  round((cast(diag AS double) / nn - cast(pe_num AS double) / (nn * nn))
          |        / (1.0 - cast(pe_num AS double) / (nn * nn)) + 1e-9, 4) AS kappa
          |FROM cls CROSS JOIN tot ORDER BY class""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "overall and per-class kappa totals over the label-bounded confusion " +
        "cells"))),
    // §2.9 sampling design: proportional + Neyman allocation over roles
    DriverQuery("ts_sampling_design", ((s, dir) =>
      Accuracy.samplingDesign(
        Regularize.withMetrics(transcripts(s, dir)), "role", "text_len", 1000)
        .orderBy("stratum")),
      (cte + metricsCte +
        """, sd AS (
          |  SELECT role AS stratum, count(*) AS n_h,
          |         round(stddev_samp(text_len) + 1e-9, 4) AS s_h
          |  FROM metrics GROUP BY 1
          |)
          |SELECT stratum, n_h, s_h,
          |  round(1000 * n_h / sum(n_h) OVER () + 1e-9, 4) AS alloc_prop,
          |  round(1000 * (n_h * s_h) / sum(n_h * s_h) OVER () + 1e-9, 4) AS alloc_neyman
          |FROM sd ORDER BY stratum""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "sampling-design totals over the stratum-bounded relation"))),
    // §2.9 sits_stratified_sampling: the design's alloc_prop column turned
    // into an actual per-stratum sample set — ceil(alloc×1.2) turns per
    // role, drawn in deterministic u32(md5(conv:idx)) order (the engine's
    // seeded-RNG replacement); design feeds selection in ONE plan
    DriverQuery("ts_strat_sample", ((s, dir) => {
      val m = Regularize.withMetrics(transcripts(s, dir))
      val design = Accuracy.samplingDesign(m, "role", "text_len", 60)
        .select(col("stratum").as("label"), col("alloc_prop").as("alloc"))
      Accuracy.stratifiedSampling(
        m.withColumn("key",
          concat_ws(":", col("conv_id"), col("turn_idx").cast("string"))),
        design, "role", "key").orderBy("label", "rn")
    }),
      (cte + metricsCte +
        """, sd AS (
          |  SELECT role AS stratum, count(*) AS n_h FROM metrics GROUP BY 1
          |), want AS (
          |  SELECT stratum AS label,
          |    CAST(ceil(round(60 * n_h / sum(n_h) OVER () + 1e-9, 4) * 1.2) AS bigint) AS n_want
          |  FROM sd
          |), keyed AS (
          |  SELECT conv_id || ':' || cast(turn_idx AS varchar) AS key, role,
          |    CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |      cast(strpos('0123456789abcdef',
          |             substr(substr(md5(conv_id || ':' || cast(turn_idx AS varchar)), 1, 8),
          |                    cast(d AS int), 1)) - 1 AS bigint)
          |        * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) AS u
          |  FROM metrics
          |), r AS (
          |  SELECT key, role AS label,
          |    row_number() OVER (PARTITION BY role ORDER BY u, key) AS rn
          |  FROM keyed
          |)
          |SELECT r.key, r.label, CAST(r.rn AS int) AS rn
          |FROM r JOIN want ON r.label = want.label
          |WHERE r.rn <= want.n_want ORDER BY r.label, rn""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "stratified-sampling allocation totals over the stratum-bounded " +
        "relation"))),
    // §2.9 uncertainty sampling: global top-20 highest-entropy cells —
    // orderBy().limit() = TakeOrderedAndProject (per-partition top-k +
    // merge), the scale-safe shape; the rank is assigned AFTER the limit by
    // a typed index pass over the ≤20-row bounded set (no window at all —
    // the round-1 global row_number window moved the FULL relation to one
    // partition)
    DriverQuery("ts_topk_uncertain", ((s, dir) => {
      import s.implicits._
      val u = Probs.uncertainty(Probs.roleMix(transcripts(s, dir)))
      val ord = Seq(col("entropy").desc, col("conv_id").asc, col("bucket_ts").asc)
      u.orderBy(ord: _*).limit(20)
        .select(col("conv_id"), col("bucket_ts"), col("entropy"))
        .coalesce(1).sortWithinPartitions(ord: _*)
        .as[(String, java.sql.Timestamp, Double)]
        .mapPartitions(_.zipWithIndex.map { case ((c, t, e), i) => (i + 1, c, t, e) })
        .toDF("rk", "conv_id", "bucket_ts", "entropy")
        .orderBy("rk")
    }),
      (cte + probsCte +
        """, u AS (
          |  SELECT conv_id, bucket_ts,
          |    round(-(p1 * ln(p1) + p2 * ln(p2) + p3 * ln(p3)) / ln(3.0) + 1e-9, 4) AS entropy
          |  FROM probs
          |)
          |SELECT rk, conv_id, bucket_ts, entropy FROM (
          |  SELECT conv_id, bucket_ts, entropy,
          |    row_number() OVER (ORDER BY entropy DESC, conv_id, bucket_ts) AS rk
          |  FROM u) WHERE rk <= 20 ORDER BY rk""".stripMargin)),
    // §2.9 sits_uncertainty_sampling with the sampling-window constraint:
    // per-(conv, 7-day block) argmax, then global top-15
    DriverQuery("ts_uncert_sampling", ((s, dir) =>
      Probs.uncertaintySampling(Probs.roleMix(transcripts(s, dir)),
        n = 15, windowDays = 7).orderBy("rk")),
      (cte + probsCte +
        """, u AS (
          |  SELECT conv_id, bucket_ts,
          |    round(-(p1 * ln(p1) + p2 * ln(p2) + p3 * ln(p3)) / ln(3.0) + 1e-9, 4) AS entropy,
          |    floor(date_diff('day', DATE '1970-01-01', cast(bucket_ts AS date)) / 7) AS blk
          |  FROM probs
          |), bst AS (
          |  SELECT conv_id, bucket_ts, entropy FROM (
          |    SELECT conv_id, bucket_ts, entropy,
          |      row_number() OVER (PARTITION BY conv_id, blk
          |                         ORDER BY entropy DESC, bucket_ts) AS r
          |    FROM u) WHERE r = 1
          |)
          |SELECT rk, conv_id, bucket_ts, entropy FROM (
          |  SELECT conv_id, bucket_ts, entropy,
          |    row_number() OVER (ORDER BY entropy DESC, conv_id, bucket_ts) AS rk
          |  FROM bst) WHERE rk <= 15 ORDER BY rk""".stripMargin)),
    // §2.9 sits_confidence_sampling: per-class top-5 most-confident cells
    // (margin floor, one pick per conversation per class)
    DriverQuery("ts_topk_confident", ((s, dir) =>
      Probs.confidenceSampling(Probs.roleMix(transcripts(s, dir)),
        n = 5, minMargin = 0.1).orderBy("label", "rk")),
      (cte + probsCte +
        """, lb AS (
          |  SELECT conv_id, bucket_ts, p1, p2, p3,
          |    CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS label,
          |    greatest(p1, p2, p3) AS p_max,
          |    greatest(p1, p2, p3) - (p1 + p2 + p3 - greatest(p1, p2, p3) - least(p1, p2, p3)) AS margin
          |  FROM probs
          |), cand AS (
          |  SELECT * FROM lb WHERE margin >= 0.1
          |), pc AS (
          |  SELECT *, row_number() OVER (PARTITION BY label, conv_id
          |                              ORDER BY p_max DESC, bucket_ts) AS rc
          |  FROM cand
          |), pl AS (
          |  SELECT *, row_number() OVER (PARTITION BY label
          |                              ORDER BY p_max DESC, conv_id, bucket_ts) AS rk
          |  FROM pc WHERE rc = 1
          |)
          |SELECT label, rk, conv_id, bucket_ts,
          |  round(p_max + 1e-9, 4) AS p_max,
          |  round(margin + 1e-9, 4) AS margin
          |FROM pl WHERE rk <= 5 ORDER BY label, rk""".stripMargin)),
    // §2.7 sits_variance: mirrored-window sample variance of the p1 logit
    DriverQuery("ts_variance", ((s, dir) => {
      val lg = Probs.roleMix(transcripts(s, dir))
        .select(col("conv_id"), col("bucket_ts"),
          log(col("p1") / (lit(1.0) - col("p1"))).as("value"))
      KernelWindows(lg, k = 2)
        .select("conv_id", "bucket_ts", "w_var")
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + probsCte +
        """, lg AS (
          |  SELECT conv_id, bucket_ts, ln(p1 / (1 - p1)) AS logit FROM probs
          |), larr AS (
          |  SELECT conv_id, list(bucket_ts ORDER BY bucket_ts) AS tsv,
          |         list(logit ORDER BY bucket_ts) AS vals
          |  FROM lg GROUP BY conv_id
          |), lidx AS (
          |  SELECT conv_id, tsv, vals, len(vals) AS n,
          |         unnest(generate_series(1, len(vals))) AS i
          |  FROM larr
          |), lwin AS (
          |  SELECT conv_id, tsv[i] AS bucket_ts,
          |    list_transform(generate_series(-2, 2), j ->
          |      vals[greatest(0, least(n - 1,
          |           CASE WHEN i - 1 + j < 0 THEN -(i - 1 + j) - 1
          |                WHEN i - 1 + j >= n THEN 2 * n - (i - 1 + j) - 1
          |                ELSE i - 1 + j END)) + 1]) AS w
          |  FROM lidx
          |)
          |SELECT conv_id, bucket_ts,
          |  round((list_sum(list_transform(w, x -> x * x)) - list_sum(w) * list_sum(w) / 5) / 4 + 1e-9, 4) + 0.0 AS w_var
          |FROM lwin ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.7 sits_clean: modal filter over the per-day class-label series
    // (mirrored window k=1, smallest-label tie-break)
    DriverQuery("ts_clean", ((s, dir) => {
      val labels = Probs.label(Probs.roleMix(transcripts(s, dir)))
        .select(col("conv_id"), col("bucket_ts"), col("label").cast("double").as("value"))
      KernelWindows(labels, k = 1)
        .select(col("conv_id"), col("bucket_ts"), col("w_modal").cast("int").as("label_clean"))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + probsCte +
        """, lab AS (
          |  SELECT conv_id, bucket_ts,
          |    cast(CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS double) AS v
          |  FROM probs
          |), larr AS (
          |  SELECT conv_id, list(bucket_ts ORDER BY bucket_ts) AS tsv,
          |         list(v ORDER BY bucket_ts) AS vals
          |  FROM lab GROUP BY conv_id
          |), lidx AS (
          |  SELECT conv_id, tsv, vals, len(vals) AS n,
          |         unnest(generate_series(1, len(vals))) AS i
          |  FROM larr
          |), lwin AS (
          |  SELECT conv_id, tsv[i] AS bucket_ts,
          |    list_transform(generate_series(-1, 1), j ->
          |      vals[greatest(0, least(n - 1,
          |           CASE WHEN i - 1 + j < 0 THEN -(i - 1 + j) - 1
          |                WHEN i - 1 + j >= n THEN 2 * n - (i - 1 + j) - 1
          |                ELSE i - 1 + j END)) + 1]) AS w
          |  FROM lidx
          |), mu AS (
          |  SELECT conv_id, bucket_ts, unnest(w) AS val FROM lwin
          |), mc AS (
          |  SELECT conv_id, bucket_ts, val, count(*) AS c FROM mu GROUP BY 1, 2, 3
          |)
          |SELECT conv_id, bucket_ts, cast(val AS int) AS label_clean FROM (
          |  SELECT conv_id, bucket_ts, val,
          |    row_number() OVER (PARTITION BY conv_id, bucket_ts ORDER BY c DESC, val ASC) AS rn
          |  FROM mc) WHERE rn = 1
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.7 sits_mixture_model: NNLS unmixing of per-(conv,day) feature
    // vectors against 3 endmember archetypes (Lawson-Hanson — not
    // SQL-expressible; KKT/brute-force oracle in ScalaTest; rows-only here)
    // verified through the NNLS KKT CERTIFICATE: kkt_w/kkt_comp/x_neg are
    // ≈0 iff the emitted-internally fractions are THE unique NNLS solution
    // for the (oracle-recomputable) feature vector — the oracle asserts the
    // constants without re-solving. Fraction VALUES are covered by the KKT
    // ScalaTest oracle.
    DriverQuery("ts_mixture", ((s, dir) => {
      val feats = Regularize.withMetrics(transcripts(s, dir))
        .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
        .agg((avg("text_len") / 100.0).as("f_len"),
          avg("is_tool").as("f_tool"),
          (count(lit(1)) / 10.0).as("f_rate"))
      Mixture.unmix(s, feats, Seq("f_len", "f_tool", "f_rate"), Seq(
        "chatty" -> Array(2.0, 0.1, 1.5),
        "tooly" -> Array(0.8, 0.9, 0.8),
        "terse" -> Array(0.3, 0.0, 0.2)), emitKkt = true)
        .join(feats, Seq("conv_id", "bucket_ts"))
        .select(col("conv_id"), col("bucket_ts"),
          round(col("f_len") + lit(1e-9), 4).as("f_len"),
          round(col("f_tool") + lit(1e-9), 4).as("f_tool"),
          round(col("f_rate") + lit(1e-9), 4).as("f_rate"),
          col("kkt_w"), col("kkt_comp"), col("x_neg"))
        .orderBy("conv_id", "bucket_ts")
    }),
      // NNLS KKT-certificate oracle: features are recomputed relationally;
      // kkt_w (dual feasibility), kkt_comp (complementary slackness) and
      // x_neg (primal feasibility) are ≈0 exactly when the kernel's fractions
      // are THE unique NNLS solution — asserted as constants without DuckDB
      // re-running Lawson-Hanson.
      (cte + metricsCte +
        """
          |SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
          |  round(avg(text_len) / 100.0 + 1e-9, 4) AS f_len,
          |  round(avg(is_tool) + 1e-9, 4) AS f_tool,
          |  round(cast(count(*) AS double) / 10.0 + 1e-9, 4) AS f_rate,
          |  cast(0.0 AS double) AS kkt_w,
          |  cast(0.0 AS double) AS kkt_comp,
          |  cast(0.0 AS double) AS x_neg
          |FROM metrics GROUP BY 1, 2
          |ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.9 softmax scoring harness (api_classify.R:435-505 shape): batched
    // mapPartitions linear stub model → stable log-sum-exp softmax → probs
    // relation consumable by the Probs operator family
    DriverQuery("ts_softmax", ((s, dir) => {
      Classify.score(s, softmaxFeatures(s, dir), Seq("f1", "f2", "f3"),
        weights = Array(Array(0.8, -1.2, 0.3), Array(-0.5, 2.0, 0.1),
          Array(0.2, 0.4, -0.7)),
        bias = Array(0.1, -0.2, 0.05))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
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
          |)
          |SELECT conv_id, bucket_ts,
          |  round(exp(s1 - scale) + 1e-9, 4) AS p1,
          |  round(exp(s2 - scale) + 1e-9, 4) AS p2,
          |  round(exp(s3 - scale) + 1e-9, 4) AS p3
          |FROM sm ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.9 area-weighted accuracy (olofsson estimators): mapped areas from
    // the FULL cell relation, error matrix from a deterministic half-sample
    DriverQuery("ts_accuracy_area", ((s, dir) => {
      val cells = Probs.reclassify(Probs.label(Probs.roleMix(transcripts(s, dir))), Seq(
        (col("label") === 3 && col("p3") < 0.5, 2),
        (col("label") === 1 && col("p1") >= 0.6, 4)))
        .select(col("bucket_ts"), col("label_new").as("pred"), col("label").as("ref"))
      val areas = cells.groupBy(col("pred").as("class"))
        .agg(count(lit(1)).cast("double").as("area"))
      val samples = cells.filter(dayofmonth(col("bucket_ts")) % 2 === 0)
      Accuracy.areaAccuracy(samples.select("pred", "ref"), areas).orderBy("class")
    }),
      (cte + probsCte +
        """, cells AS (
          |  SELECT bucket_ts,
          |    CASE WHEN lb = 3 AND p3 < 0.5 THEN 2
          |         WHEN lb = 1 AND p1 >= 0.6 THEN 4
          |         ELSE lb END AS pred,
          |    lb AS ref
          |  FROM (SELECT bucket_ts, p1, p2, p3,
          |          CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS lb
          |        FROM probs)
          |), ar AS (
          |  SELECT pred AS class, cast(count(*) AS double) AS area FROM cells GROUP BY 1
          |), at AS (SELECT sum(area) AS a_tot FROM ar
          |), smp AS (
          |  SELECT pred, ref FROM cells WHERE day(bucket_ts) % 2 = 0
          |), cm AS (
          |  SELECT pred, ref, cast(count(*) AS double) AS n_ij FROM smp GROUP BY 1, 2
          |), rt AS (
          |  SELECT pred, sum(n_ij) AS n_i FROM cm GROUP BY 1
          |), pr AS (
          |  SELECT cm.pred, cm.ref, ar.area / at.a_tot AS w_i, rt.n_i,
          |         (ar.area / at.a_tot) * cm.n_ij / rt.n_i AS p_ij
          |  FROM cm JOIN rt ON cm.pred = rt.pred
          |  JOIN ar ON ar.class = cm.pred CROSS JOIN at
          |), br AS (
          |  SELECT ref AS class, sum(p_ij) AS col_p,
          |         sum(CASE WHEN pred = ref THEN p_ij ELSE 0 END) AS p_diag,
          |         sum((w_i * p_ij - p_ij * p_ij) / (n_i - 1)) AS var_p
          |  FROM pr GROUP BY 1
          |), bp AS (
          |  SELECT pred AS class, sum(p_ij) AS row_p FROM pr GROUP BY 1
          |)
          |SELECT br.class, ar.area,
          |  round(col_p * a_tot + 1e-9, 4) AS adj_area,
          |  round(a_tot * sqrt(var_p) + 1e-9, 4) AS stderr_area,
          |  round(p_diag / row_p + 1e-9, 4) AS user_acc,
          |  round(p_diag / col_p + 1e-9, 4) AS prod_acc,
          |  round(sum(p_diag) OVER () + 1e-9, 4) AS overall_acc
          |FROM br JOIN bp ON br.class = bp.class
          |JOIN ar ON ar.class = br.class CROSS JOIN at
          |ORDER BY br.class""".stripMargin),
      plan = Some(SinglePartitionAllowed("Olofsson area totals over the label-bounded cells"))),
    // §3.2 full classification lifecycle in one chain: feature extraction →
    // batched mapPartitions scoring → softmax probs → label + uncertainty
    // (the reference's classify → label_classification consumer pipeline)
    DriverQuery("ts_classify_e2e", ((s, dir) => {
      val probs = Classify.score(s, softmaxFeatures(s, dir), Seq("f1", "f2", "f3"),
        weights = Array(Array(0.8, -1.2, 0.3), Array(-0.5, 2.0, 0.1),
          Array(0.2, 0.4, -0.7)),
        bias = Array(0.1, -0.2, 0.05))
      Probs.label(probs).join(Probs.uncertainty(probs), Seq("conv_id", "bucket_ts"))
        .select(col("conv_id"), col("bucket_ts"), col("p1"), col("p2"), col("p3"),
          col("label"), col("entropy"), col("margin"), col("least"))
        .orderBy("conv_id", "bucket_ts")
    }),
      (cte + metricsCte +
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
          |)
          |SELECT conv_id, bucket_ts, p1, p2, p3,
          |  CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS label,
          |  round(-(p1 * ln(p1) + p2 * ln(p2) + p3 * ln(p3)) / ln(3.0) + 1e-9, 4) AS entropy,
          |  round(1.0 - (greatest(p1, p2, p3) - (p1 + p2 + p3 - greatest(p1, p2, p3) - least(p1, p2, p3))) + 1e-9, 4) AS margin,
          |  round(1.0 - greatest(p1, p2, p3) + 1e-9, 4) AS least
          |FROM pr ORDER BY conv_id, bucket_ts""".stripMargin)),
    // §2.1 sits_get_probs: probability vector at each ground-truth sample
    // point (pixel variant, api_data.R:373-393) — broadcast sample join
    DriverQuery("ts_get_probs", ((s, dir) =>
      Extract.getProbs(Probs.roleMix(transcripts(s, dir)), samplePoints(s, dir))
        .orderBy("sample_id", "bucket_ts")),
      (cte + probsCte + samplesCte +
        """
          |SELECT s.sample_id, s.conv_id, p.bucket_ts, p.p1, p.p2, p.p3
          |FROM samples s JOIN probs p
          |  ON p.conv_id = s.conv_id AND p.bucket_ts = date_trunc('day', s.sample_ts)
          |ORDER BY s.sample_id, p.bucket_ts""".stripMargin)),
    // §2.1 sits_get_probs window variant: ±2-bucket neighborhood summary
    DriverQuery("ts_get_probs_win", ((s, dir) =>
      Extract.getProbsWindow(Probs.roleMix(transcripts(s, dir)),
        samplePoints(s, dir), windowSize = 5).orderBy("sample_id")),
      (cte + probsCte + samplesCte +
        """
          |SELECT s.sample_id, s.conv_id, count(*) AS n_nb,
          |  round(avg(p.p1) + 1e-9, 4) AS m1,
          |  round(avg(p.p2) + 1e-9, 4) AS m2,
          |  round(avg(p.p3) + 1e-9, 4) AS m3
          |FROM samples s JOIN probs p
          |  ON p.conv_id = s.conv_id
          |  AND datediff('day', date_trunc('day', s.sample_ts), p.bucket_ts) BETWEEN -2 AND 2
          |GROUP BY 1, 2 ORDER BY s.sample_id""".stripMargin)),
    // §2.1 sits_get_class: class label at each sample point
    DriverQuery("ts_get_class", ((s, dir) =>
      Extract.getClassAt(Probs.label(Probs.roleMix(transcripts(s, dir))),
        samplePoints(s, dir)).orderBy("sample_id", "bucket_ts")),
      (cte + probsCte + samplesCte +
        """
          |SELECT s.sample_id, s.conv_id, p.bucket_ts,
          |  CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1 WHEN p2 >= p3 THEN 2 ELSE 3 END AS label
          |FROM samples s JOIN probs p
          |  ON p.conv_id = s.conv_id AND p.bucket_ts = date_trunc('day', s.sample_ts)
          |ORDER BY s.sample_id, p.bucket_ts""".stripMargin)),
    // §2.1 summary.sits: label counts + proportions of the labeled samples
    DriverQuery("ts_label_summary", ((s, dir) =>
      Summary.labelSummary(
        Probs.label(Probs.roleMix(transcripts(s, dir))).select("label"))),
      (cte + probsCte +
        """, lab AS (
          |  SELECT CASE WHEN p1 >= p2 AND p1 >= p3 THEN 1
          |              WHEN p2 >= p3 THEN 2 ELSE 3 END AS label
          |  FROM probs
          |), lc AS (
          |  SELECT label, count(*) AS n FROM lab GROUP BY 1
          |)
          |SELECT label, n,
          |  round(cast(n AS double) / (SELECT sum(n) FROM lc) + 1e-9, 4) AS prop
          |FROM lc ORDER BY label""".stripMargin),
      plan = Some(SinglePartitionAllowed("label summaries over the label-bounded relation"))),
    // one-step-naive backtest: MAE/RMSE/WAPE/MASE on an 80/20 split
    // (integer-sum ratios — no float-order exposure)
    DriverQuery("ts_forecast_acc", ((s, dir) =>
      Forecast.forecastAccuracy(
        metrics(s, dir).withColumnRenamed("text_len", "value"))
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    lag(text_len) OVER w AS prev,
          |    cast(row_number() OVER w AS int) AS idx,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), f AS (
          |  SELECT *, (n * 4) // 5 AS h FROM v WHERE n >= 5
          |), a AS (
          |  SELECT conv_id, any_value(n) AS n, any_value(h) AS h,
          |    sum(CASE WHEN idx > h THEN abs(y - prev) ELSE 0.0 END) AS sae,
          |    sum(CASE WHEN idx > h THEN (y - prev) * (y - prev) ELSE 0.0 END) AS sse,
          |    sum(CASE WHEN idx > h THEN abs(y) ELSE 0.0 END) AS say,
          |    sum(CASE WHEN idx > 1 AND idx <= h THEN abs(y - prev) ELSE 0.0 END) AS strain
          |  FROM f GROUP BY 1
          |)
          |SELECT conv_id, cast(n AS bigint) AS n_obs,
          |  cast(n - h AS bigint) AS n_test,
          |  round(sae / (n - h) + 1e-9, 4) AS mae,
          |  round(sqrt(sse / (n - h)) + 1e-9, 4) AS rmse,
          |  CASE WHEN say > 0 THEN round(100 * sae / say + 1e-9, 4) END AS wape,
          |  CASE WHEN strain > 0
          |       THEN round(sae * (h - 1) / ((n - h) * strain) + 1e-9, 4) END AS mase
          |FROM a ORDER BY conv_id""".stripMargin)),
    // §2.9 sits_kfold_validate evaluation half: content-hash fold assignment
    // + per-fold holdout accuracy of the stub-model predictions against the
    // role-mix argmax reference labels
    DriverQuery("ts_kfold", ((s, dir) => {
      val probs = Classify.score(s, softmaxFeatures(s, dir), Seq("f1", "f2", "f3"),
        weights = Array(Array(0.8, -1.2, 0.3), Array(-0.5, 2.0, 0.1),
          Array(0.2, 0.4, -0.7)),
        bias = Array(0.1, -0.2, 0.05))
      val pred = Probs.label(probs)
        .select(col("conv_id"), col("bucket_ts"), col("label").as("pred"))
      val act = Probs.label(Probs.roleMix(transcripts(s, dir)))
        .select(col("conv_id"), col("bucket_ts"), col("label").as("actual"))
      Accuracy.kfoldValidate(pred.join(act, Seq("conv_id", "bucket_ts")),
        "actual", "pred", k = 5).orderBy("fold")
    }),
      (cte + metricsCte + probsCte + classifyPrCtes +
        """, joined AS (
          |  SELECT pr.conv_id,
          |    CASE WHEN pr.p1 >= pr.p2 AND pr.p1 >= pr.p3 THEN 1
          |         WHEN pr.p2 >= pr.p3 THEN 2 ELSE 3 END AS pred,
          |    CASE WHEN pb.p1 >= pb.p2 AND pb.p1 >= pb.p3 THEN 1
          |         WHEN pb.p2 >= pb.p3 THEN 2 ELSE 3 END AS actual
          |  FROM pr JOIN probs pb
          |    ON pb.conv_id = pr.conv_id AND pb.bucket_ts = pr.bucket_ts
          |), folded AS (
          |  SELECT cast(CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |      cast(strpos('0123456789abcdef', substr(md5(conv_id), cast(d AS int), 1)) - 1 AS bigint)
          |        * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) % 5 AS int) AS fold,
          |    pred, actual
          |  FROM joined
          |)
          |SELECT fold, count(*) AS n,
          |  CAST(sum(CASE WHEN actual = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
          |  round(cast(sum(CASE WHEN actual = pred THEN 1 ELSE 0 END) AS double) / count(*) + 1e-9, 4) AS acc
          |FROM folded GROUP BY fold ORDER BY fold""".stripMargin)),
    // seasonal-naive backtest (m=4): the baseline a seasonal model must
    // beat; integer-sum-ratio metrics like ts_forecast_acc
    DriverQuery("ts_snaive_acc", ((s, dir) =>
      Forecast.seasonalNaiveAccuracy(
        metrics(s, dir).withColumnRenamed("text_len", "value"), m = 4)
        .orderBy("conv_id")),
      (cte + metricsCte +
        """, v AS (
          |  SELECT conv_id, text_len AS y,
          |    lag(text_len, 4) OVER w AS prev,
          |    cast(row_number() OVER w AS int) AS idx,
          |    cast(count(*) OVER (PARTITION BY conv_id) AS int) AS n
          |  FROM metrics
          |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
          |), f AS (
          |  SELECT *, (n * 4) // 5 AS h FROM v WHERE n >= 12
          |), a AS (
          |  SELECT conv_id, any_value(n) AS n, any_value(h) AS h,
          |    sum(CASE WHEN idx > h THEN abs(y - prev) ELSE 0.0 END) AS sae,
          |    sum(CASE WHEN idx > h THEN (y - prev) * (y - prev) ELSE 0.0 END) AS sse,
          |    sum(CASE WHEN idx > h THEN abs(y) ELSE 0.0 END) AS say,
          |    sum(CASE WHEN idx > 4 AND idx <= h THEN abs(y - prev) ELSE 0.0 END) AS strain
          |  FROM f GROUP BY 1
          |)
          |SELECT conv_id, cast(n AS bigint) AS n_obs,
          |  cast(n - h AS bigint) AS n_test,
          |  round(sae / (n - h) + 1e-9, 4) AS mae,
          |  round(sqrt(sse / (n - h)) + 1e-9, 4) AS rmse,
          |  CASE WHEN say > 0 THEN round(100 * sae / say + 1e-9, 4) END AS wape,
          |  CASE WHEN strain > 0
          |       THEN round(sae * (h - 4) / ((n - h) * strain) + 1e-9, 4) END AS mase
          |FROM a ORDER BY conv_id""".stripMargin)),
    // reliability diagram: per-confidence-decile accuracy vs mean
    // confidence of the odd-turns role-mix model against the even-turns
    // majority-role truth (deterministic in-cell train/test split)
    DriverQuery("ts_reliability", ((s, dir) =>
      Evaluation.reliabilityBins(transcripts(s, dir)).orderBy("bin")),
      // calibration family: the cells CTE mirrors Evaluation.calibrationCells
      // (odd-turn model probs vs even-turn majority truth); every per-cell
      // float is floored to integer ten-thousandths before summation
      (calibCte +
        """
          |SELECT bin, n_cells, n_correct,
          |  round(CAST(n_correct AS DOUBLE) / n_cells + 1e-9, 4) AS acc,
          |  round(CAST(usum AS DOUBLE) / (n_cells * 10000.0) + 1e-9, 4)
          |    AS mean_conf,
          |  round(CAST(abs(10000 * n_correct - usum) AS DOUBLE)
          |        / (n_cells * 10000.0) + 1e-9, 4) AS abs_gap
          |FROM binsum ORDER BY bin""".stripMargin)),
    // multi-class Brier score + expected calibration error, one row —
    // exact integer ten-thousandth sums, one final division each
    DriverQuery("ts_brier", ((s, dir) =>
      Evaluation.brierEce(transcripts(s, dir))),
      (calibCte +
        """, brsum AS (
          |  SELECT bin, CAST(count(*) AS BIGINT) AS nb,
          |    CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT)
          |      AS cb,
          |    CAST(sum(uq) AS BIGINT) AS ub,
          |    CAST(sum(CAST(floor(
          |      ((p1 - CASE WHEN truth = 1 THEN 1.0 ELSE 0.0 END) *
          |       (p1 - CASE WHEN truth = 1 THEN 1.0 ELSE 0.0 END) +
          |       (p2 - CASE WHEN truth = 2 THEN 1.0 ELSE 0.0 END) *
          |       (p2 - CASE WHEN truth = 2 THEN 1.0 ELSE 0.0 END) +
          |       (p3 - CASE WHEN truth = 3 THEN 1.0 ELSE 0.0 END) *
          |       (p3 - CASE WHEN truth = 3 THEN 1.0 ELSE 0.0 END))
          |      * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bb
          |  FROM binned GROUP BY 1
          |)
          |SELECT n_cells,
          |  round(CAST(bsum AS DOUBLE) / (n_cells * 10000.0) + 1e-9, 4)
          |    AS brier,
          |  round(CAST(esum AS DOUBLE) / (n_cells * 10000.0) + 1e-9, 4)
          |    AS ece
          |FROM (
          |  SELECT CAST(sum(nb) AS BIGINT) AS n_cells,
          |    CAST(sum(bb) AS BIGINT) AS bsum,
          |    CAST(sum(abs(10000 * cb - ub)) AS BIGINT) AS esum
          |  FROM brsum)""".stripMargin),
      plan = Some(SinglePartitionAllowed("one-row Brier/ECE reduce over the ≤10-bin relation"))),
    // isotonic (PAV) recalibration map over the reliability bins via the
    // exact minimax identity — weighted segment averages from integer
    // cumulative sums
    DriverQuery("ts_isotonic", ((s, dir) =>
      Evaluation.isotonicCalibration(transcripts(s, dir)).orderBy("bin")),
      // isotonic (PAV) calibration map via the exact minimax identity over
      // the occupied reliability bins: iso_i = max_{j<=i} min_{k>=i}
      // (Cc_k - Cc_{j-1}) / (Cn_k - Cn_{j-1}) — integer cumulative sums,
      // one IEEE division per segment
      (calibCte +
        """, cum AS (
          |  SELECT bin, n_cells, n_correct,
          |    CAST(sum(n_correct) OVER (ORDER BY bin) AS BIGINT) AS cc,
          |    CAST(sum(n_cells) OVER (ORDER BY bin) AS BIGINT) AS cn
          |  FROM binsum
          |), segs AS (
          |  SELECT j.bin AS jb, k.bin AS kb,
          |    CAST(k.cc - (j.cc - j.n_correct) AS DOUBLE)
          |      / CAST(k.cn - (j.cn - j.n_cells) AS DOUBLE) AS seg_avg
          |  FROM cum j JOIN cum k ON j.bin <= k.bin
          |), mins AS (
          |  SELECT b.bin, s.jb, min(s.seg_avg) AS min_avg
          |  FROM segs s JOIN binsum b ON s.kb >= b.bin AND s.jb <= b.bin
          |  GROUP BY 1, 2
          |), iso AS (
          |  SELECT bin, max(min_avg) AS iso FROM mins GROUP BY 1
          |)
          |SELECT b.bin, b.n_cells,
          |  round(CAST(b.n_correct AS DOUBLE) / b.n_cells + 1e-9, 4) AS acc,
          |  round(i.iso + 1e-9, 4) AS iso_acc
          |FROM binsum b JOIN iso i USING (bin) ORDER BY bin""".stripMargin),
      plan = Some(SinglePartitionAllowed("cumsum + minimax windows over the ≤10-bin relation"))),
    // temperature-scaling fit on a powers-of-two grid (p^(1/T) via exact
    // squares/sqrt — no pow()); per-T mean NLL + post-scaling ECE, chosen
    // = NLL argmin
    DriverQuery("ts_temp_scaling", ((s, dir) =>
      Evaluation.temperatureScaling(transcripts(s, dir)).orderBy("temp")),
      // temperature grid restricted to powers of two: every rescale is
      // exact squares or correctly-rounded sqrt, never libm pow()
      (calibCte +
        """, tgrid AS (SELECT unnest([0.25, 0.5, 1.0, 2.0, 4.0]) AS temp),
          |tsc AS (
          |  SELECT temp, pred, truth,
          |    CASE WHEN temp = 0.25 THEN (p1 * p1) * (p1 * p1)
          |         WHEN temp = 0.5 THEN p1 * p1
          |         WHEN temp = 1.0 THEN p1
          |         WHEN temp = 2.0 THEN sqrt(p1)
          |         ELSE sqrt(sqrt(p1)) END AS s1,
          |    CASE WHEN temp = 0.25 THEN (p2 * p2) * (p2 * p2)
          |         WHEN temp = 0.5 THEN p2 * p2
          |         WHEN temp = 1.0 THEN p2
          |         WHEN temp = 2.0 THEN sqrt(p2)
          |         ELSE sqrt(sqrt(p2)) END AS s2,
          |    CASE WHEN temp = 0.25 THEN (p3 * p3) * (p3 * p3)
          |         WHEN temp = 0.5 THEN p3 * p3
          |         WHEN temp = 1.0 THEN p3
          |         WHEN temp = 2.0 THEN sqrt(p3)
          |         ELSE sqrt(sqrt(p3)) END AS s3
          |  FROM cl CROSS JOIN tgrid
          |), tq AS (
          |  SELECT temp, pred, truth, s1, s2, s3, s1 + s2 + s3 AS ssum,
          |    CASE WHEN truth = 1 THEN s1 WHEN truth = 2 THEN s2
          |         ELSE s3 END AS st
          |  FROM tsc
          |), trr AS (
          |  SELECT temp, pred, truth,
          |    CAST(round(ln(ssum / st) * 10000.0) AS BIGINT) AS nllq,
          |    greatest(s1, s2, s3) / ssum AS tconf
          |  FROM tq
          |), tb AS (
          |  SELECT temp, CAST(least(floor(tconf * 10), 9) AS INT) AS bin,
          |    CAST(count(*) AS BIGINT) AS nb,
          |    CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT)
          |      AS cb,
          |    CAST(sum(CAST(floor(tconf * 10000.0 + 0.5) AS BIGINT))
          |      AS BIGINT) AS ub,
          |    CAST(sum(nllq) AS BIGINT) AS qb
          |  FROM trr GROUP BY 1, 2
          |), tt2 AS (
          |  SELECT temp, CAST(sum(nb) AS BIGINT) AS n_cells,
          |    CAST(sum(qb) AS BIGINT) AS nsum,
          |    CAST(sum(abs(10000 * cb - ub)) AS BIGINT) AS esum
          |  FROM tb GROUP BY 1
          |), tfin AS (
          |  SELECT temp, n_cells,
          |    round(CAST(nsum AS DOUBLE) / (n_cells * 10000.0) + 1e-9, 4)
          |      AS mean_nll,
          |    round(CAST(esum AS DOUBLE) / (n_cells * 10000.0) + 1e-9, 4)
          |      AS ece
          |  FROM tt2
          |), tmn AS (SELECT min(mean_nll) AS mnll FROM tfin),
          |tbst AS (
          |  SELECT min(temp) AS tbest FROM tfin CROSS JOIN tmn
          |  WHERE mean_nll = mnll
          |)
          |SELECT temp, n_cells, mean_nll, ece, (temp = tbest) AS chosen
          |FROM tfin CROSS JOIN tbst ORDER BY temp""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "min-NLL windows over the 5-row per-temperature relation"))),
  )
}
