package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SeriesKernels
import Rounding.r4

/** Spectral mixture analysis ≙ `sits_mixture_model`
  * (/root/reference/R/sits_mixture_model.R:106, src/nnls_solver.cpp:16-124):
  * per observation, solve the non-negative least-squares unmixing of its
  * feature vector against a small endmember matrix → one fraction column
  * per endmember + rmse.
  *
  * The endmember matrix is tiny → closed over (broadcast with the task
  * closure); the NNLS solve runs batched per partition (no shuffle at all —
  * embarrassingly parallel like the reference's per-pixel loop).
  */
object Mixture {

  /** rows: (conv_id, bucket_ts, features array). endmembers: (name, column
    * of the mixing matrix). Emits fraction_<name> columns + rmse.
    *
    * With `emitKkt` the NNLS optimality CERTIFICATE is appended per row —
    * with w = Aᵀ(b − Ax) (Lawson-Hanson's dual vector):
    * `kkt_w` = max(0, max_j w_j)   (dual feasibility: all w_j ≤ 0 at opt),
    * `kkt_comp` = max_j |x_j · w_j| (complementary slackness),
    * `x_neg` = max(0, −min_j x_j)   (primal feasibility).
    * All three are ≈0 exactly when x IS the (unique, A full-rank) NNLS
    * solution — an oracle can assert them as constants without re-solving.
    */
  def unmix(spark: SparkSession, df: DataFrame, featureCols: Seq[String],
      endmembers: Seq[(String, Array[Double])],
      emitKkt: Boolean = false): DataFrame = {
    import spark.implicits._
    val m = featureCols.length
    val names = endmembers.map(_._1)
    val a = Array.tabulate(m, endmembers.length)((i, j) => endmembers(j)._2(i))
    val out = df
      .select(col("conv_id"), GridSeries.ms(col("bucket_ts")).as("t"),
        array(featureCols.map(c => col(c).cast("double")): _*).as("f"))
      .as[(String, Long, Seq[Double])]
      .mapPartitions { it =>
        // per-partition: endmember Gram structures could be precomputed here
        it.map { case (conv, t, f) =>
          val b = f.toArray
          val x = SeriesKernels.nnls(a, b)
          val r = new Array[Double](m) // b − Ax
          var rss = 0.0
          var i = 0
          while (i < m) {
            var pred = 0.0
            var j = 0
            while (j < x.length) { pred += a(i)(j) * x(j); j += 1 }
            r(i) = b(i) - pred
            rss += r(i) * r(i)
            i += 1
          }
          var kktW = 0.0; var kktComp = 0.0; var xNeg = 0.0
          var j = 0
          while (j < x.length) {
            var wj = 0.0
            var i2 = 0
            while (i2 < m) { wj += a(i2)(j) * r(i2); i2 += 1 }
            if (wj > kktW) kktW = wj
            val c = math.abs(x(j) * wj)
            if (c > kktComp) kktComp = c
            if (-x(j) > xNeg) xNeg = -x(j)
            j += 1
          }
          (conv, t, x.toSeq, math.sqrt(rss / m), kktW, kktComp, xNeg)
        }
      }
      .toDF("conv_id", "t", "fractions", "rmse", "kkt_w", "kkt_comp", "x_neg")
    val base = out.select(
      Seq(col("conv_id"), timestamp_millis(col("t")).as("bucket_ts"),
        col("fractions"), r4(col("rmse")).as("rmse")) ++
      (if (emitKkt) Seq(r4(col("kkt_w")).as("kkt_w"),
        r4(col("kkt_comp")).as("kkt_comp"), r4(col("x_neg")).as("x_neg"))
       else Seq.empty): _*)
    names.zipWithIndex.foldLeft(base) {
      case (acc, (nm, j)) =>
        acc.withColumn(s"frac_$nm",
          round(element_at(col("fractions"), j + 1) + lit(1e-9), 4))
    }.drop("fractions")
  }
}
