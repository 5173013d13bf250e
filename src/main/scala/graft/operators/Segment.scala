package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 1-D adaptation of `sits_segmentation`
  * (/root/reference/R/sits_segmentation.R:362, R/api_segments.R:433: SLIC
  * supercells partition the image into contiguous homogeneous regions).
  * The faithful temporal mapping partitions each conversation's series into
  * contiguous homogeneous SEGMENTS by exact optimal partitioning:
  * minimize Σ_segments SSE + λ·(#segments), solved per series with the
  * O(n²) dynamic program C(t) = min_{s<t} C(s) + SSE(s+1..t) + λ
  * (the exact form of the PELT objective, Killick et al., JASA 2012).
  *
  * Engine-replay contract: SSE comes from prefix sums of the (exactly
  * engine-identical) series values via the same left-to-right folds and
  * the same operand order as the DuckDB oracle, so every DP candidate is
  * bit-identical across engines and ties break on the smallest split
  * deterministically — the same discipline as the DTW wavefront oracle.
  *
  * Scale shape: a [[GridSeries.byIndex]] kernel, O(n²) per series with n =
  * the retention-window length (bounded), segments emitted directly — no
  * driver state, no cross-series work.
  */
object Segment {

  /** series (conv_id, idx, value) → (conv_id, seg, start_idx, end_idx,
    * n_pts, seg_mean).
    */
  def segmentSeries(series: DataFrame, lambda: Double): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val raw = GridSeries.byIndex(series, col("conv_id"), col("idx").cast("int"),
        col("value").cast("double")) {
      (conv: String, pts: Array[(String, Int, Double)]) =>
        val n = pts.length
        val sp = new Array[Double](n + 1)
        val qp = new Array[Double](n + 1)
        var i = 0
        while (i < n) {
          val v = pts(i)._3
          sp(i + 1) = sp(i) + v
          qp(i + 1) = qp(i) + v * v
          i += 1
        }
        val cs = new Array[Double](n + 1)
        val bp = new Array[Int](n + 1)
        var t = 0
        while (t < n) {
          val e = t + 1
          var best = Double.MaxValue
          var bests = 0
          var s = 0
          while (s <= t) {
            val diff = sp(e) - sp(s)
            // operand order mirrored verbatim in the oracle SQL
            val cand = cs(s) + (qp(e) - qp(s) - diff * diff / (e - s)) + lambda
            if (cand < best) { best = cand; bests = s } // first min = smallest s
            s += 1
          }
          cs(e) = best
          bp(e) = bests
          t += 1
        }
        val segs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        var e = n
        while (e > 0) { val s0 = bp(e); segs += ((s0 + 1, e)); e = s0 }
        val ordered = segs.reverse
        ordered.iterator.zipWithIndex.map { case ((a, b), k) =>
          (conv, k + 1, pts(a - 1)._2, pts(b - 1)._2, b - a + 1,
            (sp(b) - sp(a - 1)) / (b - a + 1))
        }
    }.toDF("conv_id", "seg", "start_idx", "end_idx", "n_pts", "seg_mean")
    raw.select(col("conv_id"), col("seg"), col("start_idx"), col("end_idx"),
      col("n_pts"), round(col("seg_mean") + lit(1e-9), 4).as("seg_mean"))
  }
}
