package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Rounding.r4

/** 1-D adaptation of `sits_texture` GLCM metrics
  * (/root/reference/src/glcm_fns.cpp:115-196, R/api_texture.R:139-142).
  * The reference computes grey-level co-occurrence over 2-D pixel windows;
  * the faithful 1-D mapping treats a conversation's series as the image
  * row and angle-0 adjacency (offset_col = 1) as the co-occurrence
  * relation, giving one GLCM per series from its lag-1 pairs.
  *
  * Reference semantics kept exactly:
  *  - grey quantization `floor((v − min)/(max − min) · n_grey)` with the
  *    as-coded quirk that the maximum value maps to level n_grey and any
  *    PAIR touching it is dropped (`v_i < n_grey` guard, glcm_fns.cpp:91);
  *    adjacency is positional, so a dropped cell does not splice its
  *    neighbours together;
  *  - the matrix is SYMMETRIC (each pair counted in both orientations,
  *    glcm_fns.cpp:92-93) and normalized by its total;
  *  - metric formulas verbatim: contrast Σp(i−j)², dissimilarity Σp|i−j|,
  *    homogeneity Σp/(1+(i−j)²), energy √Σp², ASM Σp², mean Σp·i,
  *    variance Σp·i²−mean², std √variance, correlation
  *    (Σp·i·j − mean²)/variance with the skimage var<1e-15 → 1 special
  *    case (glcm_fns.cpp:181-196; the moment forms are the symmetric-GLCM
  *    identities of the reference's centered sums, applied identically in
  *    both engines).
  *
  * Constant-valued series (max == min: the reference's normalize divides
  * by zero → all-NaN metrics) are excluded.
  *
  * Scale shape: a lag window per conv + two partial-aggregable groupBys
  * (cell counts, then metric sums) — no per-point window explosion, no
  * driver state.
  */
object Texture {

  def glcmSeries(series: DataFrame, nGrey: Int = 16): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("idx")
    val mm = series.groupBy("conv_id")
      .agg(min("value").as("mn"), max("value").as("mx"))
    val pairs = series.join(mm, "conv_id")
      .filter(col("mx") > col("mn"))
      .withColumn("grey",
        floor((col("value") - col("mn")) / (col("mx") - col("mn")) * nGrey)
          .cast("int"))
      .withColumn("g2", lead("grey", 1).over(w))
      .filter(col("g2").isNotNull &&
        col("grey") < nGrey && col("g2") < nGrey)
    // symmetric co-occurrence: each adjacency feeds both orientations
    val cells = pairs.select(col("conv_id"), explode(array(
        struct(col("grey").as("gi"), col("g2").as("gj")),
        struct(col("g2").as("gi"), col("grey").as("gj")))).as("c"))
      .groupBy(col("conv_id"), col("c.gi").as("gi"), col("c.gj").as("gj"))
      .agg(count(lit(1)).as("cnt"))
    val withP = cells
      .withColumn("total", sum("cnt").over(Window.partitionBy("conv_id")))
      .withColumn("p", col("cnt").cast("double") / col("total"))
    val d = col("gi") - col("gj")
    val agg = withP.groupBy("conv_id").agg(
      sum(col("p") * d * d).as("s_con"),
      sum(col("p") * abs(d)).as("s_dis"),
      sum(col("p") / (lit(1) + d * d)).as("s_hom"),
      sum(col("p") * col("p")).as("s_p2"),
      sum(col("p") * col("gi")).as("s_pi"),
      sum(col("p") * col("gi") * col("gi")).as("s_pi2"),
      sum(col("p") * col("gi") * col("gj")).as("s_pij"))
    val variance = col("s_pi2") - col("s_pi") * col("s_pi")
    agg.select(col("conv_id"),
      r4(col("s_con")).as("contrast"),
      r4(col("s_dis")).as("dissimilarity"),
      r4(col("s_hom")).as("homogeneity"),
      r4(sqrt(col("s_p2"))).as("energy"),
      r4(col("s_p2")).as("asm"),
      r4(col("s_pi")).as("glcm_mean"),
      r4(variance).as("variance"),
      r4(sqrt(greatest(lit(0.0), variance))).as("std"),
      r4(when(variance < 1e-15, lit(1.0))
        .otherwise((col("s_pij") - col("s_pi") * col("s_pi")) / variance))
        .as("correlation"))
  }
}
