package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Rounding.r4d

/** Whole-series mining kernels over the per-conversation DAY series —
  * quadratic-in-series-length algorithms that are only sane because the
  * series dimension is calendar-bounded (a conv's day-series length is
  * ≤ the retention horizon in days, a few hundred at most), while the
  * CONVERSATION dimension carries the corpus scale. Both operators are
  * one conv_id shuffle + an O(n²) typed fold per series: at 10^12 turns
  * the day-series relation is |convs|·days rows and each kernel touches
  * only its own ≤few-hundred-point array — embarrassingly parallel, no
  * cross-series traffic.
  *
  * Exactness contracts (so the DuckDB oracle can replay bit-for-bit):
  *  - [[discord]] scales the 4-dp day values to integer ten-thousandths
  *    (round(v·10⁴) as long) and does ALL distance math in integers.
  *  - [[theilSen]] quantizes every pairwise slope to 4 dp (with +0.0
  *    negative-zero normalization on both engines) BEFORE the sort, and
  *    defines the estimate as the LOWER MEDIAN (element ⌊(m−1)/2⌋ of the
  *    sorted slope list) — a deterministic pick, no midpoint averaging.
  */
object SeriesMining {

  /** Top-1 discord (the matrix-profile argmax; Yeh et al. ICDM 2016) with
    * subsequence length `w` over the position-ordered day series: for each
    * of the m = n−w+1 subsequences, the nearest-neighbor distance² to any
    * NON-OVERLAPPING subsequence (|i−j| ≥ w); the discord is the
    * subsequence maximizing that distance (ties → smallest position).
    * Raw (unnormalized) Euclidean on integer ten-thousandths — the
    * anomaly-hunting face of the series battery: the discord is the most
    * isolated shape in the series. Series with n < 2w (no non-overlapping
    * pair) are excluded. Output: (conv_id, n_days, disc_pos, nn_dist2)
    * with nn_dist2 in integer (10⁻⁴ value units)².
    */
  def discord(daySeries: DataFrame, w: Int): DataFrame = {
    require(w >= 2, "w >= 2")
    val spark = daySeries.sparkSession
    import spark.implicits._
    GridSeries.byIndex(daySeries, col("conv_id").cast("string"),
        col("idx").cast("int"), col("value").cast("double")) {
      (conv: String, rows: Array[(String, Int, Double)]) =>
        val n = rows.length
        if (n < 2 * w) Iterator.empty
        else {
          val v = rows.map(r => math.round(r._3 * 10000.0))
          val m = n - w + 1
          var bestPos = -1; var bestNn = -1L
          var i = 0
          while (i < m) {
            var nn = Long.MaxValue
            var j = 0
            while (j < m) {
              if (math.abs(i - j) >= w) {
                var d = 0L; var k = 0
                while (k < w) {
                  val df = v(i + k) - v(j + k); d += df * df; k += 1
                }
                if (d < nn) nn = d
              }
              j += 1
            }
            if (nn > bestNn) { bestNn = nn; bestPos = i + 1 }
            i += 1
          }
          Iterator.single((conv, n.toLong, bestPos, bestNn))
        }
    }.toDF("conv_id", "n_days", "disc_pos", "nn_dist2")
  }

  /** Top-1 motif — the discord's mirror (Yeh et al. ICDM 2016): the pair
    * of NON-OVERLAPPING (|i−j| ≥ w) w-subsequences at MINIMUM raw
    * Euclidean distance², integer-ten-thousandths math as [[discord]];
    * ties → smallest (pos_a, pos_b). The recurring-shape hunter: where
    * the discord finds the most isolated shape, the motif finds the most
    * repeated one. Output: (conv_id, n_days, pos_a, pos_b, dist2).
    */
  def motif(daySeries: DataFrame, w: Int): DataFrame = {
    require(w >= 2, "w >= 2")
    val spark = daySeries.sparkSession
    import spark.implicits._
    GridSeries.byIndex(daySeries, col("conv_id").cast("string"),
        col("idx").cast("int"), col("value").cast("double")) {
      (conv: String, rows: Array[(String, Int, Double)]) =>
        val n = rows.length
        if (n < 2 * w) Iterator.empty
        else {
          val v = rows.map(r => math.round(r._3 * 10000.0))
          val m = n - w + 1
          var bestA = -1; var bestB = -1; var best = Long.MaxValue
          var i = 0
          while (i < m) {
            var j = i + w
            while (j < m) {
              var d = 0L; var k = 0
              while (k < w) {
                val df = v(i + k) - v(j + k); d += df * df; k += 1
              }
              if (d < best) { best = d; bestA = i + 1; bestB = j + 1 }
              j += 1
            }
            i += 1
          }
          Iterator.single((conv, n.toLong, bestA, bestB, best))
        }
    }.toDF("conv_id", "n_days", "pos_a", "pos_b", "dist2")
  }

  /** Mann-Kendall trend test (Mann 1945, Kendall 1975) over the day
    * series, on the EXACT RATIONAL day mean: day i carries (s_i = Σ
    * text_len, c_i = count), and the pairwise comparison is
    * sign(s_j·c_i − s_i·c_j) — pure integer cross-multiplication, no
    * float mean whose last-ulp summation order could flip a sign at a
    * tie boundary. S = Σ_{i<j} sign; direction = increasing / decreasing
    * / none by S's sign. |s|·|c| per day is far below 2^62 at any
    * per-day volume the retention horizon admits. Output: (conv_id,
    * n_days, n_pos, n_neg, n_tie, s_stat, direction).
    */
  def mannKendall(dayStats: DataFrame): DataFrame = {
    val spark = dayStats.sparkSession
    import spark.implicits._
    GridSeries.byIndex(dayStats, col("conv_id").cast("string"),
        col("idx").cast("int"), col("s").cast("long"), col("c").cast("long")) {
      (conv: String, rows: Array[(String, Int, Long, Long)]) =>
        val n = rows.length
        if (n < 2) Iterator.empty
        else {
          var pos = 0L; var neg = 0L; var tie = 0L
          var i = 0
          while (i < n - 1) {
            var j = i + 1
            while (j < n) {
              val lhs = rows(j)._3 * rows(i)._4
              val rhs = rows(i)._3 * rows(j)._4
              if (lhs > rhs) pos += 1
              else if (lhs < rhs) neg += 1
              else tie += 1
              j += 1
            }
            i += 1
          }
          val s = pos - neg
          val dir = if (s > 0) "increasing" else if (s < 0) "decreasing"
            else "none"
          Iterator.single((conv, n.toLong, pos, neg, tie, s, dir))
        }
    }.toDF("conv_id", "n_days", "n_pos", "n_neg", "n_tie", "s_stat",
        "direction")
  }

  /** Theil-Sen robust trend (Theil 1950, Sen 1968): the lower median of
    * all C(n,2) pairwise slopes (v_j − v_i)/(idx_j − idx_i) over the
    * CALENDAR day index (gaps count — a 3-day gap flattens the pair's
    * slope), plus the matching lower-median intercept of
    * (v_i − slope·idx_i). The breakdown-point-0.29 companion of the OLS
    * [[SeriesOps.olsTrend]]. Series need n ≥ 2 distinct days. Output:
    * (conv_id, n_days, n_pairs, slope, intercept).
    */
  def theilSen(daySeries: DataFrame): DataFrame = {
    val spark = daySeries.sparkSession
    import spark.implicits._
    GridSeries.byIndex(daySeries, col("conv_id").cast("string"),
        col("idx").cast("int"), col("value").cast("double")) {
      (conv: String, rows: Array[(String, Int, Double)]) =>
        val n = rows.length
        if (n < 2) Iterator.empty
        else {
          val slopes = scala.collection.mutable.ArrayBuffer[Double]()
          var i = 0
          while (i < n - 1) {
            var j = i + 1
            while (j < n) {
              slopes += r4d((rows(j)._3 - rows(i)._3) /
                (rows(j)._2 - rows(i)._2))
              j += 1
            }
            i += 1
          }
          val sorted = slopes.sorted
          val slope = sorted((sorted.length - 1) / 2)
          val resid = rows.map(r => r4d(r._3 - slope * r._2)).sorted
          val intercept = resid((n - 1) / 2)
          Iterator.single((conv, n.toLong, slopes.length.toLong, slope,
            intercept))
        }
    }.toDF("conv_id", "n_days", "n_pairs", "slope", "intercept")
  }

  /** Kendall's τ-b (Kendall 1945) from the [[mannKendall]] pair counts:
    * τ_b = S / √((n₀ − T_x)(n₀ − T_y)) with n₀ = C(n,2) the pair total,
    * T_x = 0 (the time axis has no ties — day indices are distinct) and
    * T_y = the value-tie pair count the MK pass already emits. Everything
    * but the final √ and 4-dp quantization is integer. Series whose values
    * are ALL tied (n₀ = T_y) have no defined τ and are excluded.
    * Output: (conv_id, n_days, s_stat, n_tie, tau_b).
    */
  def kendallTau(dayStats: DataFrame): DataFrame =
    mannKendall(dayStats)
      .withColumn("n0", col("n_pos") + col("n_neg") + col("n_tie"))
      .filter(col("n0") > col("n_tie"))
      .select(col("conv_id"), col("n_days"), col("s_stat"), col("n_tie"),
        round(col("s_stat").cast("double") /
          sqrt(col("n0").cast("double") *
            (col("n0") - col("n_tie")).cast("double")) + lit(1e-9), 4)
          .as("tau_b"))

  /** Sample entropy at m = 2 (Richman & Moorman 2000, Am J Physiol —
    * the regularity measure: low SampEn = predictable series, high =
    * irregular) over an INTEGER day series with integer tolerance `r`,
    * so every template comparison is exact on both engines. Contract
    * (documented index set, symmetric for A and B): pairs i < j with
    * both in [0, n−3]; B counts max(|Δ₀|,|Δ₁|) ≤ r, A additionally
    * |Δ₂| ≤ r; SampEn = −ln(A/B), −1.0 sentinel when A = 0 (the only
    * float is one ln of an exact rational, 4-dp quantized). O(p²) per
    * series on the calendar-bounded day dimension, corpus scale rides
    * the conv dimension. Output:
    * (conv_id, n_days, b_cnt, a_cnt, sampen).
    */
  /** Rescaled-range Hurst exponent (Hurst 1951; Mandelbrot & Wallis 1969)
    * over an INTEGER day series: for segment sizes 4/8/16, each complete
    * segment's R/S is (max D − min D)/√I where
    * D_j = s·C_j − (j+1)·S (cumulative deviation ×s, all integer) and
    * I = s·Σv² − S² (population variance ×s², integer) — the only floats
    * are one √ per segment and the final log2s, everything upstream is
    * exact. H is the OLS slope of log2(mean R/S) on log2(s) over the three
    * sizes, which for equally log-spaced sizes is (y₁₆ − y₄)/2. Segments
    * with zero variance or zero range drop; a conversation must have all
    * three sizes present (and positive quantized mean R/S) to score.
    * One conv sort feeds the 3×-expanded segment windows; per-conv cost is
    * calendar-bounded like every day-series kernel here.
    * Output: (conv_id, n_days, rs4, rs8, rs16, hurst).
    */
  def hurst(daySeries: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w0 = Window.partitionBy("conv_id").orderBy("idx")
    val base = daySeries
      .select(col("conv_id"), col("idx").cast("int"), col("v").cast("long"))
      .withColumn("i", (row_number().over(w0) - 1).cast("long"))
    val e = base.withColumn("sz", explode(array(lit(4L), lit(8L), lit(16L))))
      .withColumn("sg", floor(col("i") / col("sz")))
    val wrun = Window.partitionBy("conv_id", "sz", "sg").orderBy("i")
    val wall = Window.partitionBy("conv_id", "sz", "sg")
    val rows = e
      .withColumn("j", (row_number().over(wrun) - 1).cast("long"))
      .withColumn("c", sum("v").over(wrun))
      .withColumn("m", count(lit(1)).over(wall))
      .withColumn("ss", sum("v").over(wall))
      .filter(col("m") === col("sz"))
      .withColumn("d", col("sz") * col("c") - (col("j") + 1) * col("ss"))
    val segs = rows.groupBy("conv_id", "sz", "sg")
      .agg(max("d").as("dmax"), min("d").as("dmin"),
        min("ss").as("s1"), sum(col("v") * col("v")).as("svv"))
      .withColumn("ivar", col("sz") * col("svv") - col("s1") * col("s1"))
      .filter(col("ivar") > 0 && col("dmax") > col("dmin"))
      .withColumn("rs", round((col("dmax") - col("dmin")).cast("double") /
        sqrt(col("ivar").cast("double")) + lit(1e-9), 4))
    val bySize = segs.groupBy("conv_id", "sz")
      .agg(round(avg("rs") + lit(1e-9), 4).as("mrs"))
      .filter(col("mrs") > 0)
    val nDays = daySeries.groupBy("conv_id").agg(count(lit(1)).as("n_days"))
    bySize.groupBy("conv_id")
      .agg(min(when(col("sz") === 4, col("mrs"))).as("rs4"),
        min(when(col("sz") === 8, col("mrs"))).as("rs8"),
        min(when(col("sz") === 16, col("mrs"))).as("rs16"))
      .filter(col("rs4").isNotNull && col("rs8").isNotNull &&
        col("rs16").isNotNull)
      .join(nDays, "conv_id")
      .select(col("conv_id"), col("n_days"), col("rs4"), col("rs8"),
        col("rs16"),
        round((log2(col("rs16")) - log2(col("rs4"))) / 2 + lit(1e-9), 4)
          .as("hurst"))
  }

  def sampleEntropy(daySeries: DataFrame, r: Long): DataFrame = {
    require(r >= 0, "r >= 0")
    val spark = daySeries.sparkSession
    import spark.implicits._
    GridSeries.byIndex(daySeries, col("conv_id").cast("string"),
        col("idx").cast("int"), col("v").cast("long")) {
      (conv: String, rows: Array[(String, Int, Long)]) =>
        val v = rows.map(_._3)
        val n = v.length
        if (n < 4) Iterator.empty
        else {
          val last = n - 3
          var a = 0L; var b = 0L
          var i = 0
          while (i <= last) {
            var j = i + 1
            while (j <= last) {
              if (math.abs(v(i) - v(j)) <= r &&
                math.abs(v(i + 1) - v(j + 1)) <= r) {
                b += 1
                if (math.abs(v(i + 2) - v(j + 2)) <= r) a += 1
              }
              j += 1
            }
            i += 1
          }
          val se = if (a > 0) r4d(-math.log(a.toDouble / b)) else -1.0
          Iterator.single((conv, n.toLong, b, a, se))
        }
    }.toDF("conv_id", "n_days", "b_cnt", "a_cnt", "sampen")
  }
}
