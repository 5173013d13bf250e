package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Tier

/** Temporal regularization — the engine's core operator, re-expressing the
  * reference's `sits_regularize` (/root/reference/R/sits_regularize.R:162-246,
  * R/api_gdalcubes.R:21-47,318-367, R/api_regularize.R:57-109) on Spark:
  *
  *  1. bucket assignment: `date_trunc(period, ts)` ≙ cut(dates, breaks=timeline)
  *  2. quality ordering + "first" aggregation: within each (conv, bucket),
  *     the value of the best-quality earliest turn — `min_by` over a struct
  *     sort key. min_by is partially aggregable (map-side combine), so a hot
  *     conversation flooding one bucket never concentrates raw rows on one
  *     reducer — this is the skew-critical choice vs a row_number window.
  *  3. empty-bucket densification: per-conv grid `sequence(min,max,period)`
  *     left-joined against observed buckets, nulls retained for gap-fill —
  *     ≙ api_regularize.R:90-109 (missing assets materialized).
  *
  * All steps are plain Catalyst relational ops: pushdown/pruning/codegen free.
  */
object Regularize {

  /** Derived metric columns ≙ sits bands, plus the quality rank used for
    * first-valid ordering (≙ cloud_cover sort, api_gdalcubes.R:39-45):
    * user turns are "cleanest", tool turns "cloudiest".
    */
  def withMetrics(transcripts: DataFrame): DataFrame =
    transcripts
      .withColumn("text_len", length(col("text")).cast("double"))
      .withColumn("is_tool", col("tool").isNotNull.cast("int").cast("double"))
      .withColumn("quality_rank",
        when(col("role") === "user", 0)
          .when(col("role") === "assistant", 1)
          .otherwise(2))

  def bucket(tier: Tier, ts: Column): Column = date_trunc(tier.unit, ts)

  /** The first-valid aggregate of one metric column: its value at the
    * best-quality earliest turn of the group (min over quality rank, ts,
    * turn_idx of a [[withMetrics]] relation). `min_by` is partially
    * aggregable, so a hot group is combined map-side.
    */
  def firstValidOf(metric: String): Column =
    min_by(col(metric), struct(col("quality_rank"), col("ts"), col("turn_idx")))

  /** Quality-ordered first-valid value per (conv, bucket) of one metric —
    * the one-band projection of [[firstValidAll]], as (conv_id, bucket_ts,
    * value).
    */
  def firstValid(transcripts: DataFrame, tier: Tier,
      metric: String = "text_len"): DataFrame =
    firstValidAll(transcripts, tier, Seq(metric))
      .select(col("conv_id"), col("bucket_ts"), col(metric).as("value"))

  /** Multi-band first-valid: ALL metric columns aggregated in ONE pass —
    * the reference regularizes every band of a cube in one job
    * (api_gdalcubes.R:506-513 job list is tile×band×time but each image
    * read serves all bands); separate per-metric passes would scan and
    * shuffle the raw turns once per metric. One shuffle on (conv_id,
    * bucket_ts) with map-side partial aggregation.
    */
  def firstValidAll(transcripts: DataFrame, tier: Tier,
      metrics: Seq[String]): DataFrame =
    withMetrics(transcripts)
      .groupBy(col("conv_id"), bucket(tier, col("ts")).as("bucket_ts"))
      .agg(firstValidOf(metrics.head).as(metrics.head),
        metrics.tail.map(m => firstValidOf(m).as(m)): _*)

  /** Materialize empty buckets: per-conv regular grid from its min to max
    * bucket, null value where no observation fell. The grid size is bounded
    * by the retention window (timeline length), NOT by turn count, so the
    * per-conv work of everything downstream is O(|timeline|) — hot-conv turn
    * skew is absorbed in [[firstValid]]'s partial aggregation.
    */
  def densify(firstValid: DataFrame, tier: Tier): DataFrame = {
    val grid = firstValid
      .groupBy("conv_id")
      .agg(min("bucket_ts").as("mn"), max("bucket_ts").as("mx"))
      .select(col("conv_id"),
        explode(expr(s"sequence(mn, mx, interval 1 ${tier.unit})")).as("bucket_ts"))
    grid.join(firstValid, Seq("conv_id", "bucket_ts"), "left")
      .select(col("conv_id"), col("bucket_ts"), col("value"))
  }

  /** Full regularize: bucket → quality-first → densify. */
  def regularize(transcripts: DataFrame, tier: Tier,
      metric: String = "text_len"): DataFrame =
    densify(firstValid(transcripts, tier, metric), tier)

  /** Reference timeline rule (api_gdalcubes.R:318-367): start = max over
    * series of min(bucket) ("max-min"), end = min of max ("min-max"); start
    * must be ≤ end. Returns the common [start, end] bucket range across all
    * conversations — used when a single shared timeline is requested.
    */
  def sharedTimeline(firstValid: DataFrame): (java.sql.Timestamp, java.sql.Timestamp) = {
    val row = firstValid.groupBy("conv_id")
      .agg(min("bucket_ts").as("mn"), max("bucket_ts").as("mx"))
      .agg(max("mn").as("start"), min("mx").as("end"))
      .head()
    val (s, e) = (row.getTimestamp(0), row.getTimestamp(1))
    require(!s.after(e), s"timeline start $s after end $e (api_gdalcubes.R:364-366)")
    (s, e)
  }
}
