package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Rounding.r4

/** Evaluation & sampling-design operators ≙ the reference's
  * `sits_accuracy` (confusion matrix + per-class accuracies,
  * /root/reference/R/sits_accuracy.R:106) and
  * `sits_sampling_design`/`sits_stratified_sampling` (Cochran/Neyman
  * allocation over strata, R/sits_sample_functions.R:312,450).
  * All plain aggregations — partially aggregable, broadcast-friendly.
  */
object Accuracy {

  /** Confusion matrix with per-cell fraction and overall accuracy repeated
    * per row (single-result-table convention).
    */
  // Totals over the bounded confusion/stratum CELL relations are computed as
  // a broadcast-joined aggregate, not a global window: a partitionless
  // WindowExec would move the relation to one partition (and a constant
  // partition key gets folded away) — the crossJoin(broadcast(agg)) shape is
  // warning-free and identical in cost for these label-bounded inputs.

  def confusion(df: DataFrame, actual: String, pred: String): DataFrame = {
    val cm = df.groupBy(col(actual).as("actual"), col(pred).as("pred"))
      .agg(count(lit(1)).as("n"))
    val tot = cm.agg(sum("n").as("__tot"),
      sum(when(col("actual") === col("pred"), col("n")).otherwise(0L)).as("__diag"))
    cm.crossJoin(broadcast(tot))
      .withColumn("frac", r4(col("n") / col("__tot")))
      .withColumn("overall_acc", r4(col("__diag") / col("__tot")))
      .drop("__tot", "__diag")
  }

  /** Stratified sample allocation over a stratum column: proportional and
    * Neyman (optimal) allocation of a total budget, using each stratum's
    * size and sample stddev of `valueCol` (Cochran ch. 5 formulas — what
    * the reference's sampling_design computes from class areas).
    */
  def samplingDesign(df: DataFrame, stratum: String, valueCol: String,
      budget: Int): DataFrame = {
    val g = df.groupBy(col(stratum).as("stratum"))
      .agg(count(lit(1)).as("n_h"), r4(stddev_samp(col(valueCol))).as("s_h"))
    val tot = g.agg(sum("n_h").as("__tn"),
      sum(col("n_h") * col("s_h")).as("__tns"))
    g.crossJoin(broadcast(tot))
      .withColumn("alloc_prop", r4(lit(budget) * col("n_h") / col("__tn")))
      .withColumn("alloc_neyman",
        r4(lit(budget) * (col("n_h") * col("s_h")) / col("__tns")))
      .drop("__tn", "__tns")
  }

  /** Deterministic k-fold assignment by content hash of the sample key —
    * engine-reproducible (md5 is identical in Spark and DuckDB; first 8 hex
    * chars → uint32 → mod k), unlike R's RNG-based `createFolds`
    * (R/sits_validate.R:68 delegates fold creation to caret). The grouping
    * UNIT is the conversation, matching the reference's rule that a sample's
    * time series never straddles folds.
    */
  def kfoldAssign(key: Column, k: Int): Column =
    pmod(u32Md5(key), lit(k.toLong)).cast("int")

  /** First 8 md5 hex chars as an unsigned 32-bit value — THE engine-parity
    * hash primitive (md5 is identical in Spark and DuckDB; oracles replay
    * it with the hex digit-sum recipe). Every deterministic
    * bucketing/sampling/counting verb derives from this single expression
    * so the cross-engine contract lives in one place.
    */
  def u32Md5(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long")

  /** `sits_kfold_validate` evaluation half (R/sits_validate.R:68,
    * api_validate.R): fold assignment + per-fold holdout confusion of a
    * supplied prediction relation (model training is out of scope per
    * SURVEY §2.9 — the caller scores with [[Classify.score]] or an external
    * model over the predictors matrix). Output: one row per fold with
    * holdout size, correct count, and accuracy.
    */
  def kfoldValidate(df: DataFrame, actual: String, pred: String,
      k: Int, keyCol: String = "conv_id"): DataFrame = {
    df.withColumn("fold", kfoldAssign(col(keyCol), k))
      .groupBy("fold")
      .agg(count(lit(1)).as("n"),
        sum(when(col(actual) === col(pred), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc", r4(col("n_correct").cast("double") / col("n")))
  }

  /** Per-class accuracy summary + Cohen's kappa — the caret
    * `confusionMatrix` statistics half of `sits_accuracy`
    * (R/api_accuracy.R:109-127: user = diag/rowSums, producer =
    * diag/colSums; caret adds overall + kappa). kappa = (po − pe)/(1 − pe)
    * with pe accumulated as an EXACT integer (Σ rowTot·colTot as bigint,
    * one double division at the end) so the float path is deterministic.
    * Everything after the confusion groupBy runs on label-bounded cells.
    */
  def classAccuracy(df: DataFrame, actual: String, pred: String): DataFrame = {
    val cm = df.groupBy(col(pred).as("p"), col(actual).as("a"))
      .agg(count(lit(1)).as("n"))
    val byPred = cm.groupBy(col("p").as("class")).agg(
      sum("n").as("n_pred"),
      sum(when(col("p") === col("a"), col("n")).otherwise(0L)).as("n_correct"))
    val byRef = cm.groupBy(col("a").as("class")).agg(sum("n").as("n_ref"))
    val classes = byRef.join(byPred, Seq("class"), "full")
      .na.fill(0L, Seq("n_pred", "n_ref", "n_correct"))
    val tot = classes.agg(sum("n_ref").as("__n"),
      sum("n_correct").as("__diag"),
      sum(col("n_pred") * col("n_ref")).as("__pe_num"))
    val po = col("__diag").cast("double") / col("__n")
    val pe = col("__pe_num").cast("double") / (col("__n") * col("__n"))
    classes.crossJoin(broadcast(tot))
      .select(col("class"), col("n_pred"), col("n_ref"), col("n_correct"),
        r4(col("n_correct") / expr("nullif(n_pred, 0)")).as("user_acc"),
        r4(col("n_correct") / expr("nullif(n_ref, 0)")).as("prod_acc"),
        r4(po).as("overall_acc"),
        r4((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** `sits_stratified_sampling` (R/sits_sample_functions.R:450; strata
    * allocation in R/api_samples.R:327): select ceil(alloc × overhead)
    * samples per stratum from the class relation — the verb that turns a
    * `sits_sampling_design` row into an actual sample set. The reference
    * draws seeded weighted-random cells per class
    * (C_sampling_stratified_generate_weights/select_cells); the engine's
    * deterministic contract replaces the seeded RNG with [[u32Md5]] hash
    * order (the same engine-parity primitive as kfold/mix sampling), so the
    * draw is reproducible across engines, runs, and cluster sizes. Overhead
    * mirrors the reference's 1.2 default with ceiling AFTER the multiply
    * (sits_sample_functions.R:535 `ceiling(alloc * overhead)`).
    *
    * Scale shape: the per-stratum rank window is bounded by the CONSTANT
    * global max allocation first (that literal bound lets Spark plan
    * WindowGroupLimit — partial top-k per partition, nothing sorts a whole
    * stratum in one task), then the exact per-stratum bound filters; the
    * allocation relation is label-bounded → broadcast.
    */
  def stratifiedSampling(classes: DataFrame, alloc: DataFrame,
      labelCol: String, keyCol: String, overhead: Double = 1.2): DataFrame = {
    val want = alloc.select(col("label"),
      ceil(col("alloc") * lit(overhead)).cast("long").as("n_want"))
    val maxRow = want.agg(max("n_want")).first()
    if (maxRow.isNullAt(0)) // empty allocation → empty draw, not an NPE
      return classes.limit(0)
        .select(col(keyCol).as("key"), col(labelCol).as("label"),
          lit(0L).as("rn"))
    val maxWant = maxRow.getLong(0)
    val w = Window.partitionBy(col(labelCol))
      .orderBy(u32Md5(col(keyCol)), col(keyCol))
    classes.join(broadcast(want), classes(labelCol) === want("label"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lit(maxWant) && col("rn") <= col("n_want"))
      .select(col(keyCol).as("key"), col("label"), col("rn"))
  }

  /** Area-weighted accuracy + unbiased area estimation — the reference's
    * `method = "olofsson"` (R/sits_accuracy.R:179,253-254; estimators in
    * R/api_accuracy.R:43-113, eq. 1-7 of Olofsson et al. 2014):
    * w_i = area_i/Σarea, p_ij = w_i·n_ij/n_i·, adjusted area_j = Σ_i p_ij·Σarea,
    * SE_j = Σarea·sqrt(Σ_i (w_i·p_ij − p_ij²)/(n_i·−1)),
    * user_i = p_ii/Σ_j p_ij, producer_j = p_jj/Σ_i p_ij, overall = Σ p_ii.
    *
    * `samples` carries one row per validation cell with columns
    * (`pred`, `ref`); `areas` the mapped area per class (`class`, `area`).
    * Everything after the first (partially-aggregated) confusion groupBy
    * operates on label-set-bounded cells — windows and joins there are
    * broadcast/tiny at any data scale.
    */
  def areaAccuracy(samples: DataFrame, areas: DataFrame): DataFrame = {
    val aTot = areas.agg(sum("area")).head().getDouble(0)
    val cm = samples.groupBy(col("pred"), col("ref"))
      .agg(count(lit(1)).cast("double").as("n_ij"))
    val rowTot = cm.groupBy("pred").agg(sum("n_ij").as("n_i"))
    val prop = cm.join(rowTot, "pred")
      .join(broadcast(areas.withColumnRenamed("class", "pred")), "pred")
      .withColumn("w_i", col("area") / lit(aTot))
      .withColumn("p_ij", col("w_i") * col("n_ij") / col("n_i"))
    val byRef = prop.groupBy(col("ref").as("class"))
      .agg(sum("p_ij").as("col_p"),
        sum(when(col("pred") === col("ref"), col("p_ij")).otherwise(0.0)).as("p_diag"),
        sum((col("w_i") * col("p_ij") - col("p_ij") * col("p_ij"))
          / (col("n_i") - 1)).as("var_p"))
    val byPred = prop.groupBy(col("pred").as("class")).agg(sum("p_ij").as("row_p"))
    val ov = byRef.agg(sum("p_diag").as("__ov"))
    byRef.join(byPred, "class")
      .join(broadcast(areas), "class")
      .crossJoin(broadcast(ov))
      .withColumn("overall_acc", r4(col("__ov")))
      .select(col("class"), col("area"),
        r4(col("col_p") * lit(aTot)).as("adj_area"),
        r4(lit(aTot) * sqrt(col("var_p"))).as("stderr_area"),
        r4(col("p_diag") / col("row_p")).as("user_acc"),
        r4(col("p_diag") / col("col_p")).as("prod_acc"),
        col("overall_acc"))
  }
}
