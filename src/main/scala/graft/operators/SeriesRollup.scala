package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ChunkStruct, Tier}
import Rounding.r4

/** Fused regularize→gap-fill→rollup kernels — the 100 TB execution shape.
  *
  * Input is [[Regularize.firstValid]] output: one row per *observed*
  * (conv, fine-bucket), already shrunk by map-side partial aggregation. The
  * dense per-conversation grid is [[GridSeries.filled]]'s: a primitive
  * double array inside the group kernel that never hits a shuffle;
  * [[rollupDense]] and [[stateDenseHist]] walk it there, [[chunkState]] as
  * decoded from the 1m chunk, all in coarse-bucket runs ([[coarseRuns]]).
  * Output is one row per (conv, coarse bucket) — 60-1440× smaller than the grid.
  *
  * Why not relational groupBy over the dense grid: at sf0.1 that plan turns
  * into a 62.9M-row ObjectHashAggregate with per-group percentile buffers
  * (sort-based fallback + spill ⇒ 409 s); this kernel computes identical
  * stats in-place per conversation (4-6 s). At 10^12 turns the difference is
  * the job existing or not: the only large shuffle left is the firstValid
  * partial agg, whose width is bounded by observed buckets, with hot-conv
  * skew absorbed map-side (SURVEY.md §2.3, §4-skew).
  *
  * Numeric contract: raw doubles are emitted by the kernel; rounding/null
  * guards are applied afterwards as Catalyst expressions IDENTICAL to
  * [[Rollup.rollup]]'s, so results match the declarative path bit-for-bit
  * (property-tested) and hence the DuckDB oracle.
  */
object SeriesRollup {

  /** Coarse-bucket runs of a dense grid of `n` slots from t0 at `step` ms:
    * (b, i, j) per coarse bucket b (epoch ms; UTC fixed-width `cs` buckets ⇒
    * date_trunc equivalent) covering grid slots [i, j), in time order.
    */
  private def coarseRuns(t0: Long, step: Long, n: Int,
      cs: Long): Iterator[(Long, Int, Int)] =
    Iterator.unfold(0) { i =>
      if (i >= n) None
      else {
        val t = t0 + i * step
        val b = t - t % cs
        var j = i
        while (j < n && t0 + j * step < b + cs) j += 1
        Some(((b, i, j), j))
      }
    }

  /** Quantile `p` of the first `n` (sorted) values of `sorted`: Spark
    * `percentile`-compatible linear interpolation (Hyndman-Fan 7,
    * weighted-endpoint operand order as in Catalyst's Percentile.getPercentile
    * — the same arithmetic DuckDB's quantile_cont performs, verified by the
    * oracle compare).
    */
  private def quantile7(sorted: Array[Double], n: Int, p: Double): Double = {
    if (n == 1) return sorted(0)
    val pos = (n - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo)
    else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
  }

  private val statCols = Seq("n", "sum0", "mean0", "min0", "max0", "std0",
    "med0", "fqr0", "tqr0")

  /** Per-(conv, coarse bucket) raw stats from the fused kernel. */
  private def rawStats(spark: SparkSession, firstValid: DataFrame,
      fine: Tier, coarse: Tier): DataFrame = {
    import spark.implicits._
    val step = fine.millis
    val cs = coarse.millis
    GridSeries.filled(firstValid, Seq("value"), step) { (conv, _, t0, v) =>
      coarseRuns(t0, step, v.length, cs).map { case (b, i, j) =>
        // non-NaN values of this bucket, summed in time order
        val vals = new Array[Double](j - i)
        var c = 0; var sum = 0.0; var s2 = 0.0
        var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        var k = i
        while (k < j) {
          val x = v(k)
          if (!x.isNaN) { vals(c) = x; c += 1; sum += x; if (x < mn) mn = x; if (x > mx) mx = x }
          k += 1
        }
        val mean = sum / c
        k = 0
        while (k < c) { val d = vals(k) - mean; s2 += d * d; k += 1 }
        java.util.Arrays.sort(vals, 0, c) // after the sums: they keep time order
        if (c == 0) (conv, b, 0L, None, None, None, None, None, None, None, None)
        else (conv, b, c.toLong, Some(sum), Some(mean), Some(mn), Some(mx),
          if (c > 1) Some(math.sqrt(s2 / (c - 1))) else None,
          Some(quantile7(vals, c, 0.5)), Some(quantile7(vals, c, 0.25)),
          Some(quantile7(vals, c, 0.75)))
      }
    }
      .toDF(("conv_id" +: "b" +: statCols): _*)
      .withColumn("bucket_ts", timestamp_millis(col("b"))).drop("b")
  }

  /** Fused fill + full t_* rollup — same columns/semantics as
    * [[Rollup.rollup]] applied to [[GapFill.fillDense]] output.
    */
  def rollupDense(spark: SparkSession, firstValid: DataFrame,
      fine: Tier, coarse: Tier): DataFrame =
    rawStats(spark, firstValid, fine, coarse).select(
      col("conv_id"), col("bucket_ts"), col("n"),
      r4(col("sum0")).as("sum_v"),
      r4(col("mean0")).as("mean_v"),
      col("min0").as("min_v"), col("max0").as("max_v"),
      when(col("n") > 1, r4(col("std0"))).otherwise(lit(null).cast("double")).as("std_v"),
      col("med0").as("med_v"), col("fqr0").as("fqr_v"), col("tqr0").as("tqr_v"),
      r4(col("max0") - col("min0")).as("amp_v"),
      (col("tqr0") - col("fqr0")).as("iqr_v"))

  /** Fused fill + algebraic tier state — same columns as [[Rollup.tierState]]
    * applied to the dense filled grid; feeds [[Rollup.cascade]]. It is
    * [[stateDenseHist]] without its histogram: one kernel loop serves both.
    */
  def stateDense(spark: SparkSession, firstValid: DataFrame,
      fine: Tier, coarse: Tier): DataFrame =
    stateDenseHist(spark, firstValid, fine, coarse).drop("hist")

  /** Fused fill + algebraic tier state plus the ≤64-cell power-of-two
    * value histogram ([[graft.model.HistCell]]) per (conv, coarse bucket)
    * of each [[GridSeries.filled]] grid ([[histRuns]]). Feeds
    * [[Rollup.cascadeHist]]/[[Rollup.histQuantiles]]: p50/p90/p99 upper
    * bounds remain answerable at 1d/1mo after raw/1m expiry.
    */
  def stateDenseHist(spark: SparkSession, firstValid: DataFrame,
      fine: Tier, coarse: Tier): DataFrame = {
    import spark.implicits._
    stateFrame(GridSeries.filled(firstValid, Seq("value"), fine.millis) { (conv, _, t0, v) =>
      histRuns(conv, null, t0, fine.millis, v, coarse.millis)
    }).drop("metric")
  }

  /** [[stateDenseHist]] of regular `fine` chunks
    * ([[ChunkStore.encodeFilledBands]]; any other chunk fails): a narrow
    * per-chunk kernel over the decoded grid, no shuffle and no second fill.
    * Keeps the input's `metric` column, a key of [[Rollup.cascadeHist]].
    */
  def chunkState(chunks: DataFrame, fine: Tier, coarse: Tier): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val banded = chunks.columns.contains("metric")
    val state = stateFrame(chunks.select(struct(ChunkStore.chunkCols.map(col): _*).as("_1"),
        (if (banded) col("metric") else lit(null).cast("string")).as("_2"))
      .as[(ChunkStruct, String)]
      .flatMap { case (chunk, metric) =>
        histRuns(chunk.conv_id, metric, chunk.start_ts.getTime, fine.millis,
          ChunkStore.gridValues(chunk, fine), coarse.millis)
      })
    if (banded) state else state.drop("metric")
  }

  /** [[histRuns]] rows in the state schema, `bucket_ts` a timestamp. */
  private def stateFrame(rows: Dataset[_]): DataFrame = rows.toDF("conv_id", "metric",
      "bucket_ts", "n", "sum_v", "sum2_v", "min_v", "max_v", "hist")
    .withColumn("bucket_ts", timestamp_millis(col("bucket_ts")))

  /** The state per coarse bucket (epoch ms) of a dense grid `v` from t0 at `step`
    * ms (NaN = missing): n, Σv, Σv², min, max of its non-NaN slots in index
    * order and their log2 census under [[Summary.log2Bucket]]'s integer
    * contract (`v.toLong`, −1 for v ≤ 0), so cascaded histograms merge
    * bit-identically with the batch/streaming log2 paths.
    */
  private def histRuns(conv: String, metric: String, t0: Long, step: Long,
      v: Array[Double], cs: Long) =
    coarseRuns(t0, step, v.length, cs).map { case (b, i, j) =>
      var c = 0L; var sum = 0.0; var sum2 = 0.0
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      val hist = new Array[Long](65) // slot 0 ↔ hb=−1, slot s ↔ hb=s−1
      var k = i
      while (k < j) {
        val x = v(k)
        if (!x.isNaN) {
          c += 1; sum += x; sum2 += x * x
          if (x < mn) mn = x; if (x > mx) mx = x
          val lv = x.toLong // cast contract of Summary.log2Bucket
          val hb = if (lv <= 0) -1
                   else 63 - java.lang.Long.numberOfLeadingZeros(lv)
          hist(hb + 1) += 1
        }
        k += 1
      }
      val cells = (0 until 65).iterator
        .filter(hist(_) > 0)
        .map(s => graft.model.HistCell(s - 1, hist(s)))
        .toSeq
      (conv, metric, b, c,
        if (c > 0) Some(sum) else None, if (c > 0) Some(sum2) else None,
        if (c > 0) Some(mn) else None, if (c > 0) Some(mx) else None,
        cells)
    }
}
