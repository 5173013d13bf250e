package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Rounding.r4

/** Point-extraction from derived (probability / classified) relations ≙
  * the reference's `sits_get_probs` / `sits_get_class`
  * (/root/reference/R/sits_get_probs.R:60, R/sits_get_class.R,
  * internals R/api_data.R:258-305 `.data_get_class`,
  * :316-361 `.data_get_probs`, :373-393 pixel, :405+ window variant).
  *
  * The reference extracts raster cells at sample lat/long points; our
  * samples address (conv_id, sample_ts) and the "pixel" is the containing
  * day bucket. Samples are a ground-truth set (the reference reads a CSV) —
  * always broadcast; the probs/label relation is never shuffled.
  */
object Extract {

  private def sampleBuckets(samples: DataFrame): DataFrame =
    samples.select(col("sample_id"), col("conv_id"),
      date_trunc("day", col("sample_ts")).as("bucket_ts"))

  /** `sits_get_probs` pixel variant: the probability vector at each sample's
    * containing bucket (`.data_get_probs_pixel`, api_data.R:373-393).
    * Output: (sample_id, conv_id, bucket_ts, p1..p3).
    */
  def getProbs(probs: DataFrame, samples: DataFrame): DataFrame =
    probs.join(broadcast(sampleBuckets(samples)), Seq("conv_id", "bucket_ts"))
      .select(col("sample_id"), col("conv_id"), col("bucket_ts"),
        col("p1"), col("p2"), col("p3"))

  /** `sits_get_probs` window variant (`.data_get_probs_window`,
    * api_data.R:405+): the reference returns the window_size² neighborhood
    * matrix per sample; the relational analog returns the neighborhood of
    * ±⌊window/2⌋ buckets in the same conversation, summarized as the
    * neighbor count and per-class means (the matrix itself is not a stable
    * relational value). Broadcast-hash join on conv_id + bucket-range
    * post-filter — probs-side never shuffles.
    */
  def getProbsWindow(probs: DataFrame, samples: DataFrame,
      windowSize: Int): DataFrame = {
    val h = windowSize / 2
    val sb = broadcast(sampleBuckets(samples)
      .withColumnRenamed("bucket_ts", "s_ts").withColumnRenamed("conv_id", "s_conv"))
    probs.join(sb, probs("conv_id") === sb("s_conv") &&
        datediff(probs("bucket_ts"), sb("s_ts")).between(-h, h))
      .groupBy(col("sample_id"), col("s_conv").as("conv_id"))
      .agg(count(lit(1)).as("n_nb"),
        r4(avg("p1")).as("m1"), r4(avg("p2")).as("m2"), r4(avg("p3")).as("m3"))
  }

  /** `sits_get_class` (`.data_get_class`, api_data.R:258-305): the class
    * label at each sample's containing bucket.
    * Output: (sample_id, conv_id, bucket_ts, label).
    */
  def getClassAt(labeled: DataFrame, samples: DataFrame): DataFrame =
    labeled.join(broadcast(sampleBuckets(samples)), Seq("conv_id", "bucket_ts"))
      .select(col("sample_id"), col("conv_id"), col("bucket_ts"), col("label"))
}
