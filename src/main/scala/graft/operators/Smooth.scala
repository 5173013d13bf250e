package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SeriesKernels

/** Per-series smoothing filters ≙ the reference's `sits_whittaker` /
  * `sits_sgolay` (/root/reference/R/sits_filters.R:70-157,
  * src/smooth_whit.cpp, src/smooth_sgp.cpp), run as typed group kernels over
  * secondary-sorted series — the Spark shape for any O(n) per-series
  * recurrence that SQL window frames can't express (the Whittaker solve is a
  * banded back-substitution; SG edges need the coefficient-matrix rows).
  *
  * One shuffle on conv_id; group memory bounded by timeline length.
  */
object Smooth {

  /** Run an Array[Double] → Array[Double] kernel over each conversation's
    * time-ordered series ([[GridSeries.sorted]]; NaN = missing).
    */
  def perSeries(spark: SparkSession, grid: DataFrame)(
      f: Array[Double] => Array[Double]): DataFrame = {
    import spark.implicits._
    GridSeries.sorted(grid) { (conv, pts) =>
      val out = f(pts.map(_._3.getOrElse(Double.NaN)))
      Iterator.tabulate(pts.length) { i =>
        (conv, pts(i)._2, if (out(i).isNaN) None else Some(out(i)))
      }
    }
      .toDF("conv_id", "t", "value")
      .select(col("conv_id"), timestamp_millis(col("t")).as("bucket_ts"), col("value"))
  }

  /** [[perSeries]] variant emitting TWO derived series from one group pass
    * (e.g. a value and its certificate/residual) — saves re-deriving the
    * grid and a join when a query needs both.
    */
  def perSeries2(spark: SparkSession, grid: DataFrame, names: (String, String))(
      f: Array[Double] => (Array[Double], Array[Double])): DataFrame = {
    import spark.implicits._
    GridSeries.sorted(grid) { (conv, pts) =>
      val (o1, o2) = f(pts.map(_._3.getOrElse(Double.NaN)))
      Iterator.tabulate(pts.length) { i =>
        (conv, pts(i)._2,
          if (o1(i).isNaN) None else Some(o1(i)),
          if (o2(i).isNaN) None else Some(o2(i)))
      }
    }
      .toDF("conv_id", "t", names._1, names._2)
      .select(col("conv_id"), timestamp_millis(col("t")).as("bucket_ts"),
        col(names._1), col(names._2))
  }

  /** Whittaker 2nd-difference penalized smoother, λ as in
    * sits_filters.R:70-87 (default 0.5).
    */
  def whittaker(spark: SparkSession, grid: DataFrame, lambda: Double = 0.5): DataFrame =
    perSeries(spark, grid)(SeriesKernels.whittaker(_, lambda))

  /** Savitzky-Golay filter, order/length as sits_filters.R:127-157
    * (defaults order=3, length=11 → k=5; we default k=3 for minute grids).
    */
  def sgolay(spark: SparkSession, grid: DataFrame, order: Int = 3, k: Int = 3): DataFrame =
    perSeries(spark, grid)(SeriesKernels.sgolay(_, order, k))
}
