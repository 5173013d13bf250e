package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Rounding.r4

/** Probability-cube post-processing ≙ the reference's derived-cube operator
  * family (/root/reference/R/sits_label_classification.R,
  * sits_uncertainty.R, sits_smooth.R, sits_combine_predictions.R,
  * sits_reclassify.R; C kernels in src/label_class.cpp, uncertainty.cpp,
  * smooth_bayes.cpp, combine_data.cpp).
  *
  * Our "probability vector per pixel" is a probability vector per
  * (conv, day): the Laplace-smoothed role mix — exact rational doubles, so
  * Spark and DuckDB derive bit-identical inputs (no libm in the derivation).
  * All operators are pure Catalyst expressions except Bayes smoothing, which
  * needs mirrored windows (array expressions, same pattern as
  * [[KernelWindows]]).
  */
object Probs {

  /** Per-(conv, day) probability vector: Laplace-smoothed role mix
    * (p_user, p_assistant, p_tool), each (count+1)/(total+3).
    */
  def roleMix(transcripts: DataFrame): DataFrame =
    transcripts
      .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
      .agg(
        count(when(col("role") === "user", 1)).as("cu"),
        count(when(col("role") === "assistant", 1)).as("ca"),
        count(when(col("role") === "tool", 1)).as("ct"),
        count(lit(1)).as("tot"))
      .select(col("conv_id"), col("bucket_ts"),
        ((col("cu") + lit(1)).cast("double") / (col("tot") + lit(3))).as("p1"),
        ((col("ca") + lit(1)).cast("double") / (col("tot") + lit(3))).as("p2"),
        ((col("ct") + lit(1)).cast("double") / (col("tot") + lit(3))).as("p3"))

  /** `sits_label_classification` (src/label_class.cpp:7-20): 1-based argmax,
    * first maximum wins (arma index_max).
    */
  def label(probs: DataFrame): DataFrame =
    probs.withColumn("label",
      when(col("p1") >= col("p2") && col("p1") >= col("p3"), 1)
        .when(col("p2") >= col("p3"), 2)
        .otherwise(3))

  /** `sits_uncertainty` (src/uncertainty.cpp:8-23): entropy with log base k,
    * margin 1−(top1−top2), least-confidence 1−max. Rounded at the output
    * boundary (ln differs across libm implementations in ulps).
    */
  def uncertainty(probs: DataFrame): DataFrame = {
    val mx = greatest(col("p1"), col("p2"), col("p3"))
    val mn = least(col("p1"), col("p2"), col("p3"))
    val second = col("p1") + col("p2") + col("p3") - mx - mn
    val ent = -(col("p1") * log(col("p1")) + col("p2") * log(col("p2")) +
      col("p3") * log(col("p3"))) / log(lit(3.0))
    probs.select(col("conv_id"), col("bucket_ts"),
      r4(ent).as("entropy"),
      r4(lit(1.0) - (mx - second)).as("margin"),
      r4(lit(1.0) - mx).as("least"))
  }

  /** `sits_combine_predictions` average method (src/combine_data.cpp):
    * weighted average of two probability cubes on the same grid.
    */
  def combine(a: DataFrame, b: DataFrame, wa: Double, wb: Double): DataFrame = {
    val bb = b.select(col("conv_id"), col("bucket_ts"),
      col("p1").as("q1"), col("p2").as("q2"), col("p3").as("q3"))
    a.join(bb, Seq("conv_id", "bucket_ts"))
      .select(col("conv_id"), col("bucket_ts"),
        r4((col("p1") * wa + col("q1") * wb) / (wa + wb)).as("p1"),
        r4((col("p2") * wa + col("q2") * wb) / (wa + wb)).as("p2"),
        r4((col("p3") * wa + col("q3") * wb) / (wa + wb)).as("p3"))
  }

  /** `sits_reclassify` (sits_reclassify.R:121): rule-based relabel — rules
    * are expressions over the current class and a mask class, compiled to
    * CASE WHEN in order (first match wins), else keep.
    */
  def reclassify(labeled: DataFrame, rules: Seq[(Column, Int)]): DataFrame =
    labeled.withColumn("label_new",
      rules.foldRight(col("label")) { case ((cond, to), els) =>
        when(cond, lit(to)).otherwise(els)
      })

  /** `sits_uncertainty_sampling` with the reference's sampling-window
    * constraint (sits_uncertainty.R:208-279; kernel
    * src/sampling_window.cpp:7-37 `C_max_sampling`): the raster is tiled
    * into non-overlapping window_size blocks and only each block's
    * maximum-uncertainty cell survives before the global top-n — that IS
    * the "minimum distance between selected samples" rule. 1-D analog:
    * fixed `windowDays` time blocks per conversation (epoch-anchored, so
    * blocks need no origin scan). Fully relational: per-block argmax is a
    * partitioned rank-1 window (plans as partial+final WindowGroupLimit),
    * the global top-n is TakeOrderedAndProject, and the final rank is a
    * typed index pass over the n bounded survivors.
    */
  def uncertaintySampling(probs: DataFrame, n: Int, windowDays: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = uncertainty(probs).withColumn("blk",
      floor(datediff(col("bucket_ts"), lit("1970-01-01").cast("date")) / windowDays))
    val w = Window.partitionBy("conv_id", "blk")
      .orderBy(col("entropy").desc, col("bucket_ts"))
    val best = u.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
    val ord = Seq(col("entropy").desc, col("conv_id").asc, col("bucket_ts").asc)
    val spark = probs.sparkSession
    import spark.implicits._
    best.orderBy(ord: _*).limit(n)
      .select(col("conv_id"), col("bucket_ts"), col("entropy"))
      .coalesce(1).sortWithinPartitions(ord: _*)
      .as[(String, java.sql.Timestamp, Double)]
      .mapPartitions(_.zipWithIndex.map { case ((c, t, e), i) => (i + 1, c, t, e) })
      .toDF("rk", "conv_id", "bucket_ts", "entropy")
  }

  /** `sits_confidence_sampling` (sits_sample_functions.R:119, 51-128): per
    * class, suggest the top-n cells where the model is MOST confident in
    * that class — cells whose argmax is the class, whose top1−top2 margin
    * meets `minMargin`, ranked by the class probability. The reference's
    * sampling-window autocorrelation guard (one pick per spatial window)
    * becomes one pick per conversation in our 1-D domain.
    *
    * Scale shape: margin filter + per-(label, conv) dedup are fully
    * partitioned; the final per-label rank window is partitioned by label
    * (parallelism bounded by |labels| — at cube scale pre-filter candidates
    * with a per-label probability threshold before ranking).
    */
  def confidenceSampling(probs: DataFrame, n: Int,
      minMargin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mx = greatest(col("p1"), col("p2"), col("p3"))
    val mn = least(col("p1"), col("p2"), col("p3"))
    val margin = mx - (col("p1") + col("p2") + col("p3") - mx - mn)
    val cand = label(probs)
      .withColumn("p_max", mx).withColumn("margin", margin)
      .filter(col("margin") >= minMargin)
    val perConv = Window.partitionBy("label", "conv_id")
      .orderBy(col("p_max").desc, col("bucket_ts"))
    val perLabel = Window.partitionBy("label")
      .orderBy(col("p_max").desc, col("conv_id"), col("bucket_ts"))
    cand
      .withColumn("__rc", row_number().over(perConv)).filter(col("__rc") === 1)
      .withColumn("rk", row_number().over(perLabel)).filter(col("rk") <= n)
      .select(col("label"), col("rk"), col("conv_id"), col("bucket_ts"),
        r4(col("p_max")).as("p_max"), r4(col("margin")).as("margin"))
  }

  /** 1-D Bayesian smoothing of a per-conv logit series
    * (src/smooth_bayes.cpp:20-78 on our series domain): mirrored window of
    * half-width k over the day grid; neighbors sorted DESC, top
    * ⌈fraction·(2k+1)⌉ kept; prior m0/s0 = mean/sample-var of those;
    * posterior = w·x0+(1−w)·m0 with w = s0/(s0+smoothness); s0<1e-4 → m0.
    * Input: (conv_id, bucket_ts, logit). Output adds smoothed `b_v`.
    */
  def bayesSmooth(series: DataFrame, k: Int, fraction: Double,
      smoothness: Double): DataFrame = {
    val m = 2 * k + 1
    val hi = math.ceil(fraction * m).toInt
    // reflected index clamped to [0, n-1] (SeriesKernels.mirror semantics);
    // without the clamp an n ≤ k series indexes past the array bounds
    val mirrored =
      s"""transform(sequence(-$k, $k), j -> element_at(vals,
         |  greatest(0, least(n - 1,
         |    CASE WHEN pos + j < 0 THEN -(pos + j) - 1
         |         WHEN pos + j >= n THEN 2*n - (pos + j) - 1
         |         ELSE pos + j END)) + 1))""".stripMargin
    series
      .groupBy("conv_id")
      .agg(sort_array(collect_list(struct(col("bucket_ts"), col("logit")))).as("pts"))
      .select(col("conv_id"),
        expr("transform(pts, p -> p.bucket_ts)").as("ts"),
        expr("transform(pts, p -> cast(p.logit as double))").as("vals"))
      .withColumn("n", size(col("vals")))
      .select(col("conv_id"), col("ts"), col("vals"), col("n"),
        posexplode(col("vals")).as(Seq("pos", "x0")))
      .withColumn("bucket_ts", expr("element_at(ts, pos + 1)"))
      .withColumn("win", expr(mirrored))
      .withColumn("high", expr(s"slice(sort_array(win, false), 1, $hi)"))
      .withColumn("s1", expr("aggregate(high, cast(0 as double), (a, x) -> a + x)"))
      .withColumn("s2", expr("aggregate(high, cast(0 as double), (a, x) -> a + x * x)"))
      .withColumn("m0", col("s1") / lit(hi))
      .withColumn("s0", (col("s2") - col("s1") * col("s1") / lit(hi)) / lit(hi - 1))
      .select(col("conv_id"), col("bucket_ts"),
        r4(when(col("s0") < 1e-4, col("m0"))
          .otherwise((col("s0") / (col("s0") + lit(smoothness))) * col("x0")
            + (lit(1.0) - col("s0") / (col("s0") + lit(smoothness))) * col("m0")))
          .as("b_v"))
  }
}
