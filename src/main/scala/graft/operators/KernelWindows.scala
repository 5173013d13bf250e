package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Rounding.r4

/** Centered moving-window kernel statistics ≙ the reference's
  * `w_median/w_sum/w_mean/w_sd/w_min/w_max/w_var/w_modal` apply-kernels
  * (/root/reference/R/sits_apply.R:96-107, R/api_apply.R:284-330,
  * src/kernel.cpp:22-124), re-expressed on our 1-D per-conversation series.
  *
  * Reference semantics reproduced exactly:
  *  - edge handling is MIRRORED (`locus_mirror`, kernel.cpp:8-19: index p<0 →
  *    -p-1, p≥n → 2n-p-1), so every window holds exactly 2k+1 values — Spark's
  *    `rowsBetween` truncates at partition edges and CANNOT express this,
  *    which is why the window is materialized as an array expression;
  *  - `w_modal` ties break toward the smallest value (std::map iteration
  *    order + strict max_element, kernel.cpp:45-67);
  *  - sd/var are sample statistics (R sd/var, /(m-1)).
  *
  * Execution shape: ALL per-index stats are computed inside ONE expression
  * at the conversation-row level (`transform(sequence(0, n-1), pos -> …)`),
  * and only the small per-point result structs are exploded. Exploding the
  * series array first and computing per row would copy the whole
  * |timeline|-element array into every output row — O(n²) memory traffic
  * per conversation (measured ~25 GB of row copies at sf0.1).
  * One shuffle (the groupBy); no UDFs. Because windows are always full
  * (2k+1, no NaN on a gap-filled grid) the median needs no interpolation:
  * it is the (k+1)-th order statistic.
  */
object KernelWindows {

  /** grid (conv_id, bucket_ts, value non-null) → per-point window stats.
    *
    * Execution: TYPED primitive-array kernel over [[GridSeries.sorted]]
    * (same topology as the former groupBy+collect_list). The per-point window
    * math ran as array-expression HOF lambdas (`transform`/`aggregate`)
    * through round 2 — those lambdas are INTERPRETED per element, which made
    * this the hot spot of the bench; the kernel keeps every float operation
    * in the same order (sequential window-order folds for s1/s2, ascending
    * sort for median/modal, strict-> first-longest-run modal, mirrored-and-
    * clamped edge indices), so outputs are bit-identical to the expression
    * path and the DuckDB oracles are unchanged. Rounding stays at the
    * DataFrame boundary (same round(+1e-9, 4) columns as before).
    */
  def apply(grid: DataFrame, k: Int): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val m = 2 * k + 1
    // every caller's grid is unique per (conv_id, bucket_ts), so the time
    // order equals the former sort_array over struct(ts, value)
    val raw = GridSeries.sorted(grid) {
      (conv, pts) =>
        val n = pts.length
        val vals = new Array[Double](n)
        var i = 0
        while (i < n) { vals(i) = pts(i)._3.get; i += 1 }
        val win = new Array[Double](m)
        val sortedWin = new Array[Double](m)
        Iterator.tabulate(n) { pos =>
          var s1 = 0.0
          var s2 = 0.0
          var j = -k
          var idx = 0
          while (j <= k) {
            val p = pos + j
            // locus_mirror with the [0, n-1] clamp (kernel.cpp:8-19; for
            // n ≤ k a single reflection can still land out of range)
            val q = if (p < 0) -p - 1 else if (p >= n) 2 * n - p - 1 else p
            val x = vals(math.min(math.max(q, 0), n - 1))
            win(idx) = x
            s1 += x
            s2 += x * x
            idx += 1
            j += 1
          }
          System.arraycopy(win, 0, sortedWin, 0, m)
          java.util.Arrays.sort(sortedWin)
          // first longest run over the ascending sort = modal with
          // smallest-value tie-break (strict > keeps the earliest max run)
          var best = sortedWin(0); var bc = 1
          var cur = sortedWin(0); var cc = 1
          var s = 1
          while (s < m) {
            if (sortedWin(s) == cur) cc += 1
            else { cur = sortedWin(s); cc = 1 }
            if (cc > bc) { bc = cc; best = cur }
            s += 1
          }
          (conv, pts(pos)._2, s1, s2, sortedWin(k), sortedWin(0),
            sortedWin(m - 1), best)
        }
    }.toDF("conv_id", "t", "s1", "s2", "w_median", "w_min", "w_max", "w_modal")
    raw.select(
      col("conv_id"), timestamp_millis(col("t")).as("bucket_ts"),
      r4(col("s1")).as("w_sum"),
      r4(col("s1") / lit(m)).as("w_mean"),
      col("w_median"), col("w_min"), col("w_max"),
      r4(sqrt(greatest(lit(0.0),
        (col("s2") - col("s1") * col("s1") / lit(m)) / lit(m - 1)))).as("w_sd"),
      r4((col("s2") - col("s1") * col("s1") / lit(m)) / lit(m - 1)).as("w_var"),
      col("w_modal"))
  }
}
